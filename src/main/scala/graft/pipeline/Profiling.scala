package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution profiling by FIXED-WIDTH HISTOGRAM — the deterministic
  * scale path for percentile questions over a 100 TB corpus. The exact
  * alternatives both fail at scale or at the oracle: a true percentile
  * needs a global sort (or the two-pass prefix rank — an extra full
  * shuffle when only summary statistics are wanted), and
  * `approx_percentile`'s sketch is merge-order-dependent (no cross-engine
  * replay). Quantizing the value into `width`-sized bins makes the whole
  * profile ONE map-side-combined aggregation keyed by bin — O(B) state,
  * B = maxValue/width + 1, a policy dimension set by the metric's range
  * (document lengths, token counts), never data-scale — after which every
  * quantile answer is exact integer arithmetic over the bin counts: the
  * p-th percentile lands in the first bin whose cumulative count reaches
  * ceil(p·N/100). The answer is the bin [lo, hi) — resolution `width` by
  * construction, deterministic by construction (order-free integer adds,
  * integer ceil both engines render the same way: `(n·p + 99) div 100` ≡
  * `(n*p + 99) // 100` on non-negative operands, the engine's pinned
  * division convention).
  *
  * The cumulative pass runs as a window over the BIN table — B bounded
  * rows through one single-partition sort, the same policy-dimension
  * cost class as the temperature-weight or centroid collects, never the
  * corpus (the corpus is reduced by the histogram aggregation first).
  */
object Profiling {

  /** Default bin width for character-length profiling: 64 chars keeps a
    * 100 MB-doc corpus (the admission-gated maximum) under ~1.6M bins
    * worst-case and a normal web corpus under a few thousand — either
    * way an aggregation output that fits one executor partition and a
    * driver screen. */
  val LengthBinWidth: Long = 64L

  val DefaultPercents: Seq[Int] = Seq(50, 90, 99)

  /** (bin, cnt) histogram of `valueCol` (non-negative int64). */
  def histogram(df: DataFrame, valueCol: Column, width: Long): DataFrame = {
    require(width > 0, s"bin width must be positive: $width")
    df.select(valueCol.cast("long").as("v"))
      .selectExpr(s"v div $width AS bin")
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
  }

  /** Percentile profile over a histogram: one row per requested percent
    * p — (pct, bin, lo, hi, cum_cnt), where [lo, hi) is the first bin
    * whose cumulative count reaches ceil(p·N/100) and cum_cnt that
    * cumulative count. The percent axis attaches by exploding a LITERAL
    * array (pure column work — no nested-loop join for a 3-element
    * policy list). Shared by the batch scan and the ingestion fold so
    * the arithmetic cannot diverge between them.
    */
  def quantileReport(hist: DataFrame, width: Long,
      percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p > 0 && p <= 100),
      s"percents must be in (0, 100]: $percents")
    val ord = Window.orderBy("bin")
    val cum = hist
      .withColumn("cum", sum("cnt").over(ord))
      .withColumn("n", sum("cnt").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // cum increases with bin, so min(struct(bin, cum)) picks the first
    // qualifying bin together with its own cumulative count
    cum.withColumn("pct", explode(typedLit(percents)))
      .filter(col("cum") >= expr("(n * pct + 99) div 100"))
      .groupBy("pct")
      .agg(min(struct(col("bin"), col("cum"))).as("bc"))
      .select(col("pct"), col("bc.bin").as("bin"),
        (col("bc.bin") * lit(width)).as("lo"),
        ((col("bc.bin") + lit(1L)) * lit(width)).as("hi"),
        col("bc.cum").as("cum_cnt"))
  }

  /** Character-length percentile profile of a corpus — ONE aggregation
    * scan + the O(B) quantile tail. */
  def lengthQuantiles(corpus: DataFrame, textCol: String,
      width: Long = LengthBinWidth,
      percents: Seq[Int] = DefaultPercents): DataFrame =
    quantileReport(histogram(corpus, length(col(textCol)), width), width,
      percents)

  /** [[lengthQuantiles]] AT INGESTION: each micro-batch reduces to its
    * own (bin, cnt) histogram in the cluster (bounded B rows to the
    * driver per trigger), which merges into a running bin→count map by
    * plain addition — histograms are the trivially mergeable sketch, so
    * the folded state is EXACTLY the batch histogram of everything
    * ingested, independent of batch split, O(B) driver state persisted
    * per batch via [[graft.streaming.DriverFold]] (restart-safe, no
    * double counts on replay). Output ≡ the batch profile.
    */
  def lengthQuantilesIngest(stream: DataFrame, textCol: String,
      width: Long = LengthBinWidth,
      percents: Seq[Int] = DefaultPercents,
      onBatch: Int => Unit = _ => (),
      checkpoint: Option[String] = None,
      stateDir: Option[String] = None)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val bins = graft.streaming.DriverFold.fold(
        stream.select(length(col(textCol)).cast("long").as("len")),
        scala.collection.mutable.HashMap.empty[Long, Long],
        checkpoint, stateDir)(
      (bins, batch) => {
        histogram(batch, col("len"), width).collect().foreach { r =>
          val bin = r.getLong(0)
          bins.update(bin, bins.getOrElse(bin, 0L) + r.getLong(1))
        }
        bins
      },
      bins => onBatch(bins.size))
    import spark.implicits._
    quantileReport(bins.toSeq.toDF("bin", "cnt"), width, percents)
  }

  /** GROUPED percentile profile — one histogram per key (per-source
    * length profiles, per-language token-count profiles): the hist
    * aggregation keys on (group, bin) — still one map-side-combined
    * Exchange, O(groups·B) output — and the cumulative pass becomes a
    * window PARTITIONED by group, so unlike the ungrouped tail it
    * parallelizes across groups with no single-partition stage at all.
    * Output: (key, pct, bin, lo, hi, cum_cnt), one row per group per
    * requested percent.
    */
  def groupedQuantileReport(hist: DataFrame, keyCol: String, width: Long,
      percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p > 0 && p <= 100),
      s"percents must be in (0, 100]: $percents")
    val ord = Window.partitionBy(keyCol).orderBy("bin")
    val cum = hist
      .withColumn("cum", sum("cnt").over(ord))
      .withColumn("n", sum("cnt").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    cum.withColumn("pct", explode(typedLit(percents)))
      .filter(col("cum") >= expr("(n * pct + 99) div 100"))
      .groupBy(col(keyCol), col("pct"))
      .agg(min(struct(col("bin"), col("cum"))).as("bc"))
      .select(col(keyCol), col("pct"), col("bc.bin").as("bin"),
        (col("bc.bin") * lit(width)).as("lo"),
        ((col("bc.bin") + lit(1L)) * lit(width)).as("hi"),
        col("bc.cum").as("cum_cnt"))
  }

  /** Per-group character-length percentile profile of a corpus. */
  def lengthQuantilesBy(corpus: DataFrame, keyCol: String, textCol: String,
      width: Long = LengthBinWidth,
      percents: Seq[Int] = DefaultPercents): DataFrame =
    groupedQuantileReport(
      corpus.select(col(keyCol), length(col(textCol)).cast("long").as("v"))
        .selectExpr(keyCol, s"v div $width AS bin")
        .groupBy(keyCol, "bin").agg(count(lit(1)).as("cnt")),
      keyCol, width, percents)

  /** [[lengthQuantilesBy]] AT INGESTION — the grouped histogram fold:
    * per batch a (key, bin, cnt) table (bounded at groups·B rows) adds
    * into the running map, `DriverFold`-persisted like the ungrouped
    * twin. Output ≡ the batch profile.
    */
  def lengthQuantilesByIngest(stream: DataFrame, keyCol: String,
      textCol: String,
      width: Long = LengthBinWidth,
      percents: Seq[Int] = DefaultPercents,
      onBatch: Int => Unit = _ => (),
      checkpoint: Option[String] = None,
      stateDir: Option[String] = None)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame =
    groupedQuantileReport(
      keyedBinFold(
        stream.select(col(keyCol).cast("string").as("k"),
          length(col(textCol)).cast("long").as("v"))
          .selectExpr("k", s"v div $width AS bin"),
        onBatch, checkpoint, stateDir)
        .withColumnRenamed("k", keyCol),
      keyCol, width, percents)

  /** The shared keyed-histogram ingestion fold: a stream of (k, bin)
    * rows reduces per micro-batch to its own (k, bin, cnt) table in the
    * cluster (bounded at groups·B rows to the driver per trigger), which
    * adds into the running map — histograms are the trivially mergeable
    * sketch, so the folded state is EXACTLY the batch histogram of
    * everything ingested, independent of batch split, O(groups·B)
    * driver state `DriverFold`-persisted per batch (restart-safe: a
    * replayed batch is skipped, not double-added). Shared by the
    * grouped-quantile, length-drift and token-drift ingestion twins.
    */
  private[graft] def keyedBinFold(binned: DataFrame,
      onBatch: Int => Unit,
      checkpoint: Option[String],
      stateDir: Option[String])(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val bins = graft.streaming.DriverFold.fold(binned,
        scala.collection.mutable.HashMap.empty[(String, Long), Long],
        checkpoint, stateDir)(
      (bins, batch) => {
        batch.groupBy("k", "bin").agg(count(lit(1)).as("cnt"))
          .collect().foreach { r =>
            val key = (r.getString(0), r.getLong(1))
            bins.update(key, bins.getOrElse(key, 0L) + r.getLong(2))
          }
        bins
      },
      bins => onBatch(bins.size))
    import spark.implicits._
    bins.toSeq.map { case ((k, b), c) => (k, b, c) }.toDF("k", "bin", "cnt")
  }

  /** Per-key Pearson CORRELATION (+ regression slope) between two
    * integer metrics — the metadata-sanity profile ("does document
    * length track token diversity per source; did a crawler change break
    * the relationship"): one grouped aggregation collects the six
    * sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) as EXACT integer
    * sums — DECIMAL(38,0) accumulators widened BEFORE the products, so
    * 100 TB of squared metrics cannot overflow where an int64 product
    * silently wraps; DuckDB mirrors with HUGEINT — and the three
    * second-moment combinations num = n·Σxy − Σx·Σy, denx = n·Σx² −
    * (Σx)², deny = n·Σy² − (Σy)² stay in EXACT decimal too: subtracting
    * them in double is the textbook catastrophic cancellation (when
    * mean² ≫ variance the true difference sits below the ulp of the
    * operands and the coefficient comes out as rounding noise). Each is
    * cast to double ONCE, then corr = num/(√denx·√deny) (the two square
    * roots deliberately NOT fused into one — √a·√b and √(ab) round
    * differently), slope = num/denx. Deterministic end to end: exact
    * integer arithmetic is order-free, every double op is correctly
    * rounded in a pinned order — the oracle re-derives each per-key
    * coefficient bit-identically. Degenerate slices (a constant metric)
    * emit 0.0 by a guarded CASE, mirrored in SQL. Built-in `corr()` on
    * either engine is an order-dependent streaming accumulation —
    * uncheckable, hence this shape.
    */
  def metricCorrBy(df: DataFrame, keyCol: String, x: Column,
      y: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val a = df
      .select(col(keyCol), x.cast("long").as("x"), y.cast("long").as("y"))
      .groupBy(keyCol).agg(
        count(lit(1)).as("n_docs"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        // cast BEFORE multiplying: a long×long product wraps silently for
        // metrics above ~3.04e9 (√Long.MaxValue) — the decimal widening
        // must cover the product, not just the sum, to keep the claim
        // above (and the HUGEINT oracle parity) true
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
    val nDec = col("n_docs").cast(dec)
    val num = (nDec * col("sxy") - col("sx") * col("sy")).cast("double")
    val denx = (nDec * col("sxx") - col("sx") * col("sx")).cast("double")
    val deny = (nDec * col("syy") - col("sy") * col("sy")).cast("double")
    a.withColumn("num", num).withColumn("denx", denx).withColumn("deny", deny)
      .select(col(keyCol), col("n_docs"),
        when(col("denx") <= 0.0 || col("deny") <= 0.0, lit(0.0))
          .otherwise(col("num") / (sqrt(col("denx")) * sqrt(col("deny"))))
          .as("corr"),
        when(col("denx") <= 0.0, lit(0.0))
          .otherwise(col("num") / col("denx")).as("slope"))
  }

  /** Distribution-DRIFT scoring by Population Stability Index — the
    * standard production monitor for "has this slice's distribution
    * moved away from the baseline": PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i)
    * over the same fixed-width histogram the quantile profile uses, p =
    * the slice's bin shares, q = the baseline's. PSI < 0.1 is
    * conventionally "no shift", > 0.25 "major shift"; here the score is
    * emitted quantized (Σ floor(10⁹·term), an ORDER-FREE integer sum —
    * the engine's determinism convention for float accumulations) so
    * psi_q/10⁹ is the PSI.
    *
    * Determinism end to end: counts are exact integers; add-one
    * smoothing ((c+1)/(N+B)) keeps every share strictly positive with no
    * conditional branches; the logarithm is the portable
    * correctly-rounded dag ([[graft.functions.PortableLog]], the same
    * one the LM/DSIR rows replay), and each per-bin term is a fixed
    * sequence of IEEE ops — so a DuckDB oracle re-derives every PSI
    * bit-identically. Scale: the whole computation happens AFTER the
    * histogram aggregation — O(groups·B) rows of pure column work; the
    * corpus is touched by exactly one map-side-combined scan.
    *
    * `byKey` is the (key, bin, cnt) slice histogram, `base` the
    * (bin, cnt) baseline. The key set is collected (a policy-dimension
    * reduction, as the mixer's source set) to build the key×bin grid by
    * exploding a literal — slices missing a baseline bin contribute the
    * smoothed floor for it, which is what charges a slice for mass it
    * does NOT have where the baseline does. The grid's bin axis is the
    * UNION of the baseline and slice supports: a slice putting mass in
    * bins the baseline never saw — a new crawl whose lengths exceed
    * anything in the reference corpus, the strongest drift signal —
    * charges the PSI directly through the baseline's smoothed floor
    * there, instead of vanishing from a baseline-only grid. When the
    * baseline aggregates the slices (the marginal rows) the union IS the
    * baseline support, so those oracles see the identical grid.
    */
  def psiReport(byKey: DataFrame, base: DataFrame, keyCol: String): DataFrame = {
    import graft.functions.PortableLog
    val keys = byKey.select(col(keyCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // union of supports — both inputs are post-histogram (O(B) rows), so
    // the distinct and the single-partition window stay policy-sized
    val bins = base.select(col("bin"))
      .union(byKey.select(col("bin"))).distinct()
    val baseW = bins
      .join(base.withColumnRenamed("cnt", "cb"), Seq("bin"), "left")
      .withColumn("cb", coalesce(col("cb"), lit(0L)))
      .withColumn("nb", sum("cb").over(w))
      .withColumn("b", count(lit(1)).over(w))
    val grid = baseW.withColumn(keyCol, explode(typedLit(keys)))
    val ns = byKey.groupBy(keyCol).agg(sum("cnt").as("ns"))
    val joined = grid
      .join(broadcast(ns), keyCol)
      .join(broadcast(byKey.withColumnRenamed("cnt", "cs")),
        Seq(keyCol, "bin"), "left")
      .withColumn("cs", coalesce(col("cs"), lit(0L)))
    val p = (col("cs") + lit(1L)).cast("double") /
      (col("ns") + col("b")).cast("double")
    val q = (col("cb") + lit(1L)).cast("double") /
      (col("nb") + col("b")).cast("double")
    val term = (p - q) * PortableLog.plogCol(p / q)
    joined
      .select(col(keyCol), col("b"),
        floor(lit(1.0e9) * term).cast("long").as("tq"))
      .groupBy(keyCol)
      .agg(max("b").as("n_bins"), sum("tq").as("psi_q"))
  }

  /** [[psiReport]] against a PER-KEY baseline — "did source X's
    * distribution shift vs ITS OWN archived distribution", the monitor
    * semantics for metrics where key identity dominates the marginal
    * (per-source LM xent: sources legitimately differ, so every source
    * "drifts" from the corpus marginal and a real shift drowns in that
    * background; against its own baseline the background is ~0 and the
    * shifted source dominates). Same smoothed-PSI dag as [[psiReport]]
    * — identical double expression trees, same union-of-supports rule
    * applied per key — with the grid/totals derived by per-key joins of
    * post-histogram relations (O(keys·bins) rows end-to-end). Keys =
    * the slice histogram's keys; a key with no baseline rows (nb = 0)
    * scores against the uniform smoothed floor over its own support —
    * a non-uniform newcomer charges positive PSI, a single-bin one
    * matches the floor trivially (spec-pinned degenerate). The REVERSE
    * asymmetry — a key present only in the BASELINE (a source that
    * vanished from the current slice) — produces NO report row by
    * default, because the report is keyed by what the slice contains;
    * a drift dashboard that reads absence as health would miss the
    * maximally-drifted case, so `emitVanished = true` adds one sentinel
    * row per vanished key (its baseline bin count, psi_q =
    * Long.MaxValue — above any smoothed finite PSI) from the same
    * post-histogram relations (one anti-join, no extra scan).
    */
  def psiReportKeyed(byKey: DataFrame, baseByKey: DataFrame,
      keyCol: String, emitVanished: Boolean = false): DataFrame = {
    import graft.functions.PortableLog
    val bins = baseByKey.select(col(keyCol), col("bin"))
      .union(byKey.select(col(keyCol), col("bin"))).distinct()
    val bt = baseByKey.groupBy(keyCol).agg(sum("cnt").as("nb"))
    val bc = bins.groupBy(keyCol).agg(count(lit(1)).as("b"))
    val ns = byKey.groupBy(keyCol).agg(sum("cnt").as("ns"))
    val joined = bins
      .join(baseByKey.withColumnRenamed("cnt", "cb"),
        Seq(keyCol, "bin"), "left")
      .withColumn("cb", coalesce(col("cb"), lit(0L)))
      .join(byKey.withColumnRenamed("cnt", "cs"), Seq(keyCol, "bin"), "left")
      .withColumn("cs", coalesce(col("cs"), lit(0L)))
      .join(bt, Seq(keyCol), "left")
      .withColumn("nb", coalesce(col("nb"), lit(0L)))
      .join(bc, Seq(keyCol))
      .join(ns, Seq(keyCol))
    val p = (col("cs") + lit(1L)).cast("double") /
      (col("ns") + col("b")).cast("double")
    val q = (col("cb") + lit(1L)).cast("double") /
      (col("nb") + col("b")).cast("double")
    val term = (p - q) * PortableLog.plogCol(p / q)
    val report = joined
      .select(col(keyCol), col("b"),
        floor(lit(1.0e9) * term).cast("long").as("tq"))
      .groupBy(keyCol)
      .agg(max("b").as("n_bins"), sum("tq").as("psi_q"))
    if (!emitVanished) report
    else {
      val vanished = baseByKey
        .join(byKey.select(keyCol).distinct(), Seq(keyCol), "left_anti")
        .groupBy(keyCol)
        .agg(count(lit(1)).as("n_bins"),
          lit(Long.MaxValue).as("psi_q"))
      report.unionByName(vanished)
    }
  }

  /** Per-key character-length drift vs the corpus marginal: ONE corpus
    * scan builds the keyed histogram; the baseline is its bin marginal
    * (a re-aggregation of the O(groups·B) table, not a second scan), so
    * the row answers "which sources' length distributions deviate from
    * the corpus mixture". */
  def lengthDriftPsi(corpus: DataFrame, keyCol: String, textCol: String,
      width: Long = LengthBinWidth): DataFrame = {
    val byKey = graft.Caches.track(
      corpus.select(col(keyCol), length(col(textCol)).cast("long").as("v"))
        .selectExpr(keyCol, s"v div $width AS bin")
        .groupBy(keyCol, "bin").agg(count(lit(1)).as("cnt")))
    psiReport(byKey, byKey.groupBy("bin").agg(sum("cnt").as("cnt")), keyCol)
  }

  /** [[lengthDriftPsi]] AT INGESTION — the crawl-drift monitor: the
    * baseline histogram derives OFFLINE from the archived reference
    * corpus, the stream folds its keyed histogram per batch into the
    * O(groups·B) `DriverFold`-persisted map (the
    * [[lengthQuantilesByIngest]] fold verbatim), and the PSI tail runs
    * the same shared column dag — so streaming the archive itself
    * reproduces the batch row exactly (shared oracle), and in production
    * the stream side is the new crawl scored against the corpus.
    */
  def lengthDriftPsiIngest(stream: DataFrame, reference: DataFrame,
      keyCol: String, textCol: String,
      width: Long = LengthBinWidth,
      onBatch: Int => Unit = _ => (),
      checkpoint: Option[String] = None,
      stateDir: Option[String] = None)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val byKey = keyedBinFold(
      stream.select(col(keyCol).cast("string").as("k"),
        length(col(textCol)).cast("long").as("v"))
        .selectExpr("k", s"v div $width AS bin"),
      onBatch, checkpoint, stateDir)
      .withColumnRenamed("k", keyCol)
    val base = reference
      .select(length(col(textCol)).cast("long").as("v"))
      .selectExpr(s"v div $width AS bin")
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    psiReport(byKey, base, keyCol)
  }

  /** Feature-space size for hashed-token vocabulary profiles: 64 buckets
    * keeps the grid at O(groups·64) rows whatever the vocabulary size
    * (the DSIR feature-hashing move applied to monitoring) while leaving
    * each bucket coarse enough that every one is populated — the PSI
    * smoothing floor stays far below a real vocabulary shift. */
  val TokenDriftBuckets: Long = 64L

  /** (key, bin, cnt) TOKEN-occurrence histogram over hashed token
    * buckets — bin = hash60(token) mod `buckets`, so the vocabulary
    * (unbounded, data-scale) projects onto a fixed policy-dimension
    * feature space and the histogram aggregation stays one map-side-
    * combined Exchange with O(groups·buckets) output at 100 TB. */
  def tokenHistogramBy(corpus: DataFrame, keyCol: String, textCol: String,
      buckets: Long = TokenDriftBuckets): DataFrame = {
    import graft.functions.GraftFunctions.{hash60, tokens}
    corpus
      .select(col(keyCol), explode(tokens(col(textCol))).as("__tok"))
      .select(col(keyCol), pmod(hash60(col("__tok")), lit(buckets)).as("bin"))
      .groupBy(keyCol, "bin").agg(count(lit(1)).as("cnt"))
  }

  /** Per-key TOKEN-distribution drift vs the corpus marginal — the
    * VOCABULARY-drift monitor complementary to [[lengthDriftPsi]]
    * ("which sources' word distributions deviate from the corpus
    * mixture" — a crawler swapping language, a source flooding novel
    * boilerplate — shifts token mass where document lengths may not move
    * at all; conversely the length plant leaves token shares untouched).
    * Same PSI dag over a different histogram: hashed-token buckets keep
    * the whole profile O(groups·buckets) however large the vocabulary,
    * and everything downstream of the one token-explode scan is bounded
    * column work. */
  def tokenDriftPsi(corpus: DataFrame, keyCol: String, textCol: String,
      buckets: Long = TokenDriftBuckets): DataFrame = {
    val byKey = graft.Caches.track(
      tokenHistogramBy(corpus, keyCol, textCol, buckets))
    psiReport(byKey, byKey.groupBy("bin").agg(sum("cnt").as("cnt")), keyCol)
  }

  /** [[tokenDriftPsi]] AT INGESTION — the vocabulary-drift crawl
    * monitor: baseline token histogram OFFLINE from the archived
    * reference corpus, the stream explodes tokens to (key, bucket) as
    * pure column work and folds per-batch counts into the shared
    * `DriverFold`-persisted keyed map, PSI tail shared — so streaming
    * the archive reproduces the batch row exactly (shared oracle), and
    * in production the stream is the new crawl's vocabulary scored
    * against the corpus, O(groups·buckets) state for any stream length.
    */
  def tokenDriftPsiIngest(stream: DataFrame, reference: DataFrame,
      keyCol: String, textCol: String,
      buckets: Long = TokenDriftBuckets,
      onBatch: Int => Unit = _ => (),
      checkpoint: Option[String] = None,
      stateDir: Option[String] = None)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import graft.functions.GraftFunctions.{hash60, tokens}
    val byKey = keyedBinFold(
      stream
        .select(col(keyCol).cast("string").as("k"),
          explode(tokens(col(textCol))).as("__tok"))
        .select(col("k"), pmod(hash60(col("__tok")), lit(buckets)).as("bin")),
      onBatch, checkpoint, stateDir)
      .withColumnRenamed("k", keyCol)
    val base = tokenHistogramBy(reference, keyCol, textCol, buckets)
      .groupBy("bin").agg(sum("cnt").as("cnt"))
    psiReport(byKey, base, keyCol)
  }

  /** Per-key EMBEDDING-space drift vs the corpus marginal — the third
    * face of the drift triad (length / token / VECTOR): a source whose
    * embeddings moved — a crawler swapping domains, an encoder-version
    * mix-up, corrupted vectors — shifts its mass across the trained IVF
    * CELLS even when lengths and token shares hold still. The histogram
    * axis is the cell assignment under an explicit trained centroid set
    * (the shared quantized-Lloyd generator): the vocabulary-hashing move
    * applied to vector space — unbounded R^d projects onto k
    * policy-dimension bins, the whole profile is one zero-Exchange
    * assignment column + one map-side-combined aggregation, O(groups·k)
    * rows of PSI tail after it. Same shared [[psiReport]] dag, so the
    * score semantics (smoothing, portable log, quantized sum) are
    * identical across all three monitors.
    */
  def embeddingDriftPsi(emb: DataFrame, keyCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val byKey = graft.Caches.track(
      emb.select(col(keyCol),
          graft.similarity.Similarity.cellColumn(col(vecCol), centroids)
            .cast("long").as("bin"))
        .groupBy(keyCol, "bin").agg(count(lit(1)).as("cnt")))
    psiReport(byKey, byKey.groupBy("bin").agg(sum("cnt").as("cnt")), keyCol)
  }

  /** [[embeddingDriftPsi]] AT INGESTION — the vector-drift crawl
    * monitor: centroids and the baseline cell histogram derive OFFLINE
    * from the archived corpus, the stream assigns cells as pure column
    * work (the centroid set is a plan literal — no join, no state) and
    * folds per-batch (key, cell) counts into the shared
    * `DriverFold`-persisted keyed map, PSI tail shared — streaming the
    * archive reproduces the batch row exactly (shared oracle); in
    * production the stream is the new crawl's embeddings scored against
    * the corpus, O(groups·k) state for any stream length.
    */
  def embeddingDriftPsiIngest(stream: DataFrame, reference: DataFrame,
      keyCol: String, vecCol: String, centroids: DataFrame,
      onBatch: Int => Unit = _ => (),
      checkpoint: Option[String] = None,
      stateDir: Option[String] = None)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val cell = graft.similarity.Similarity.cellColumn(col(vecCol), centroids)
    val byKey = keyedBinFold(
      stream.select(col(keyCol).cast("string").as("k"),
        cell.cast("long").as("bin")),
      onBatch, checkpoint, stateDir)
      .withColumnRenamed("k", keyCol)
    val base = reference.select(cell.cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    psiReport(byKey, base, keyCol)
  }

  /** [[keyedBinFold]] with two exact VALUE sums riding each (k, bin)
    * cell — the reliability-monitor shape: per batch the stream reduces
    * to (k, bin, cnt, Σv1, Σv2) with DECIMAL(38,0) sums (a confidence
    * sum reaches docs·10⁹ — past int64 at corpus scale), the driver
    * folds BigInt accumulators under the same `DriverFold` crash-commit
    * protocol, and the output re-emits the sums as DECIMAL(38,0)
    * strings for the caller to cast. State stays O(groups·bins).
    */
  private[graft] def keyedBinSumsFold(binned: DataFrame,
      onBatch: Int => Unit,
      checkpoint: Option[String],
      stateDir: Option[String])(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val st = graft.streaming.DriverFold.fold(binned,
        scala.collection.mutable.HashMap
          .empty[(String, Long), (Long, BigInt, BigInt)],
        checkpoint, stateDir)(
      (st, batch) => {
        batch.groupBy("k", "bin")
          .agg(count(lit(1)).as("cnt"),
            sum(col("v1").cast(dec)).as("s1"),
            sum(col("v2").cast(dec)).as("s2"))
          .collect().foreach { r =>
            val key = (r.getString(0), r.getLong(1))
            val (c0, a0, b0) = st.getOrElse(key, (0L, BigInt(0), BigInt(0)))
            st.update(key, (c0 + r.getLong(2),
              a0 + BigInt(r.getDecimal(3).toBigInteger),
              b0 + BigInt(r.getDecimal(4).toBigInteger)))
          }
        st
      },
      st => onBatch(st.size))
    import spark.implicits._
    st.toSeq.map { case ((k, b), (c, s1, s2)) =>
        (k, b, c, s1.toString, s2.toString) }
      .toDF("k", "bin", "cnt", "s1", "s2")
      .select(col("k"), col("bin"), col("cnt"),
        col("s1").cast(dec).as("s1"), col("s2").cast(dec).as("s2"))
  }
}
