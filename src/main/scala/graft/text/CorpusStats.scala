package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Corpus-derived document statistics — the "train on the corpus, score
  * the corpus" shape of CCNet-style quality filtering: a first pass builds
  * a token→document-frequency vocabulary, a second pass scores every
  * document against it. Unlike the per-row ops in [[TextAnalysis]] this is
  * a genuinely two-sided distributed operator (the vocabulary is an
  * aggregation of the whole corpus), so its scale story is about the join:
  * a natural-language vocabulary follows Heap's law (~10⁶–10⁷ types for a
  * 100 TB web corpus) and usually broadcasts; an adversarial corpus
  * (random strings, OCR noise) can grow the vocabulary to the token count,
  * where a broadcast would OOM the driver. The join strategy is therefore
  * size-GUARDED exactly like the decontamination probe
  * ([[graft.dedup.Dedup.contaminationHits]]): broadcast below
  * [[MaxBroadcastVocab]] distinct tokens, shuffle-hash join (vocabulary
  * build side) above it — never an un-runnable broadcast, never a sort of
  * the exploded corpus side.
  */
object CorpusStats {

  /** Broadcast ceiling for the vocabulary join, in distinct tokens. The
    * broadcast relation costs roughly token bytes + ~100 B map overhead
    * per entry replicated per executor: 2·10⁶ tokens ≈ low hundreds of
    * MB — comfortable for a healthy driver, and an order of magnitude
    * above a natural-language vocabulary at any corpus size. Above it
    * (adversarial/OCR corpora where types ≈ tokens) the score join
    * degrades to shuffle-hash with the vocabulary as build side.
    */
  val MaxBroadcastVocab: Long = 2000000L

  /** Counter budget for the heavy-hitter sketch pass; the exactness
    * threshold is tied to it (T = N div (m+1) + 1 > N/(m+1), the
    * Misra-Gries undercount bound), so m bounds BOTH the sketch state and
    * how deep into the head the operator can see. 64 counters resolve
    * every token above ~1.5% of corpus mass.
    */
  val HeavyHitterCounters: Int = 64

  /** Exact heavy hitters without a full-vocabulary shuffle — the
    * sketch-guided two-pass shape: (1) ONE scan folds the token stream
    * into a mergeable Misra-Gries summary
    * ([[graft.functions.expressions.MisraGriesAgg]] — O(m) state per
    * partition, a single m-entry partial per partition moves to the
    * final merge) plus the exact total token count; (2) a second scan
    * exact-counts ONLY the ≤ m candidate tokens (literal isin filter —
    * no join, the aggregation Exchange moves candidate occurrences, not
    * the vocabulary) and keeps those with count ≥ T = N div (m+1) + 1.
    *
    * Output (token, cnt) is EXACTLY {token : count(token) ≥ T},
    * independent of partitioning and merge order: T exceeds the sketch's
    * undercount bound N/(m+1), so every qualifying token is guaranteed a
    * candidate (superset property), and the verify counts are exact —
    * the sketch only prunes. Contrast [[vocabulary]]: that pass shuffles
    * every distinct type (the honest cost when the whole distribution is
    * needed); this one replaces it with O(m) state when only the head is
    * — stopword extraction, boilerplate-token detection, tokenizer
    * seeding.
    */
  def heavyHitters(corpus: DataFrame, textCol: String,
      m: Int = HeavyHitterCounters): DataFrame = {
    val toks = corpus.select(explode(tokens(col(textCol))).as("token"))
    val row = toks.agg(
      graft.functions.expressions.MisraGriesAgg.of(col("token"), m).as("cands"),
      count(lit(1)).as("n")).head()
    exactHead(toks, row.getSeq[String](0), row.getLong(1), m)
  }

  /** Counter budget for the GROUPED heavy-hitter pass — per-group token
    * mass is corpus mass divided by the group fan-out, so the grouped
    * row runs a smaller m than [[HeavyHitterCounters]] to keep the
    * sketch genuinely pruning (m below the per-group type count) while
    * T = N_g div (m+1) + 1 stays below the per-group head frequencies.
    */
  val HeavyHitterGroupCounters: Int = 32

  /** GROUPED exact heavy hitters — one head set per key (per-source
    * stopword/boilerplate profiles): pass 1 folds the token stream into
    * a PER-GROUP Misra-Gries summary + exact per-group token count in
    * one aggregation keyed by the group (O(groups·m) output — the
    * vocabulary still never shuffles); pass 2 exact-counts only the
    * candidate (group, token) pairs via a broadcast of the exploded
    * candidate table (bounded at groups·m rows — the per-group threshold
    * T_g = N_g div (m+1) + 1 rides the broadcast so the filter needs no
    * second pass over the sketch output). Per group the superset
    * guarantee is the ungrouped one verbatim — T_g exceeds that group's
    * N_g/(m+1) undercount bound — so the output is EXACTLY
    * {(g, token) : count_g(token) ≥ T_g}, independent of partitioning
    * and merge order. Unlike [[heavyHitters]] no candidate list touches
    * the driver at all: the candidates flow sketch → explode → broadcast
    * inside one plan.
    */
  def heavyHittersBy(corpus: DataFrame, keyCol: String, textCol: String,
      m: Int = HeavyHitterGroupCounters): DataFrame = {
    val toks = graft.Caches.track(
      corpus.select(col(keyCol), explode(tokens(col(textCol))).as("token")))
    val sk = toks.groupBy(keyCol).agg(
      graft.functions.expressions.MisraGriesAgg.of(col("token"), m).as("cands"),
      count(lit(1)).as("n"))
    val cands = sk.select(col(keyCol), explode(col("cands")).as("token"),
      (expr(s"n div ${m + 1}") + lit(1L)).as("t"))
    toks.join(broadcast(cands), Seq(keyCol, "token"))
      .groupBy(keyCol, "token")
      .agg(count(lit(1)).as("cnt"), max("t").as("__t"))
      .filter(col("cnt") >= col("__t"))
      .drop("__t")
  }

  /** The exact verify pass both heavy-hitter shapes end in: count ONLY
    * the ≤ m sketch candidates (literal isin — the aggregation Exchange
    * moves candidate occurrences, never the vocabulary) and keep those
    * at or above T = N div (m+1) + 1.
    */
  private def exactHead(toks: DataFrame, cands: Seq[String], n: Long,
      m: Int): DataFrame = {
    val t = n / (m + 1) + 1
    val candToks =
      if (cands.isEmpty) toks.filter(lit(false))
      else toks.filter(col("token").isin(cands: _*))
    candToks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= t)
  }

  /** INCREMENTAL heavy hitters — the ingest-side corpus profiler the
    * batch operator implies: each micro-batch folds its token stream
    * into a distributed ≤ m-entry sketch ([[graft.functions.expressions.
    * MisraGriesSketchAgg]] — map-side partials, one m-entry row per
    * partition to the final merge), which then merges into the running
    * cross-batch sketch with the SAME mergeable-summaries combine the
    * in-plan partials use — so the accumulated state is a valid
    * Misra-Gries summary of everything ingested so far (the combine
    * preserves the N/(m+1) undercount bound across any batch split),
    * bounded at m counters + one token total however long the stream
    * runs. `onBatch` observes (sketch size, running N) per trigger — the
    * spec's state-bound hook.
    *
    * At end of stream the candidates exact-verify against `archive` (the
    * retained ingested data — the batch table here; every production
    * ingest lands its accepted rows somewhere) exactly as the batch
    * operator does, so the output is the same EXACT, partitioning- and
    * batch-split-independent head: {token : count ≥ T}, T = N div (m+1)
    * + 1. Candidates and total ride the stream; only they — never a
    * vocabulary — touch the second pass. The (sketch, N) fold is on the
    * [[graft.streaming.DriverFold]] persisted-state protocol, so with
    * `stateDir` set a restart resumes without double-counting.
    */
  def heavyHittersIngest(stream: DataFrame, archive: DataFrame,
      textCol: String, m: Int = HeavyHitterCounters,
      onBatch: (Int, Long) => Unit = (_, _) => (),
      checkpoint: Option[String] = None,
      stateDir: Option[String] = None)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    val (sketch, n) = graft.streaming.DriverFold.fold(
        stream.select(explode(tokens(col(textCol))).as("token")),
        (scala.collection.mutable.HashMap.empty[String, Long], 0L),
        checkpoint, stateDir)(
      (st, batch) => {
        val row = batch.agg(
          graft.functions.expressions.MisraGriesAgg
            .sketchOf(col("token"), m).as("sk"),
          count(lit(1)).as("nb")).head()
        val entries = row.getSeq[Row](0).map(r => (r.getString(0), r.getLong(1)))
        (graft.functions.expressions.MisraGriesAgg.mergeInto(st._1, entries, m),
          st._2 + row.getLong(1))
      },
      st => onBatch(st._1.size, st._2))
    exactHead(archive.select(explode(tokens(col(textCol))).as("token")),
      sketch.keys.toSeq, n, m)
  }

  /** Retained-minima budget for the KMV distinct-count sketch. 256
    * minima give ~1/√(k−2) ≈ 6% expected relative error (Beyer et al.,
    * SIGMOD'07) at 2 KB of state — the operating point where "how many
    * distinct token types does this 100 TB corpus have" stops being a
    * vocabulary-sized shuffle and becomes one bounded aggregation row.
    */
  val KmvK: Int = 256

  /** hash60's range [0, 2⁶⁰) as an exact double (a power of two) — the M
    * in the KMV estimator (k−1)·M/h₍k₎. */
  val KmvHashRange: Double = 1152921504606846976L.toDouble

  /** KMV distinct-type counting — cardinality profiling without the
    * vocabulary shuffle: ONE scan folds every token's portable 60-bit
    * hash into a mergeable k-minimum-values sketch
    * ([[graft.functions.expressions.BottomKDistinctAgg]] — O(k) state
    * per partition, one ≤ k-entry partial per partition to the final
    * merge), and the k-th smallest retained hash h₍k₎ estimates the
    * distinct count as (k−1)·2⁶⁰/h₍k₎. Below k distinct values the
    * sketch IS the distinct set and the estimate is exact.
    *
    * Everything is deterministic — the k smallest distinct hashes are a
    * pure function of the token SET (partitioning-, merge-order- and
    * batch-split-independent), and the estimate is two IEEE double ops
    * in a fixed order — so a DuckDB oracle re-derives sketch and
    * estimate bit-identically (ORDER BY hash LIMIT k + the same
    * multiply/divide). Contrast [[vocabulary]]: exact but shuffles every
    * distinct type; and HLL-style synopses: cheaper state but
    * merge-order-dependent registers that no cross-engine oracle can
    * replay. Output: one row (k_cap, sketch_size, kth_hash,
    * est_distinct).
    */
  def distinctKmv(corpus: DataFrame, textCol: String,
      k: Int = KmvK): DataFrame =
    kmvReport(
      corpus.select(explode(tokens(col(textCol))).as("token"))
        .agg(graft.functions.expressions.BottomKDistinctAgg
          .of(hash60(col("token")), k).as("sk")), k)

  /** The estimate tail over a frame holding the sketch array `sk`
    * (ascending) — ONE column dag shared by the batch scan, the GROUPED
    * scan and the ingestion fold so the double arithmetic cannot diverge
    * between them: (k−1)·2⁶⁰ (exact — small int × power of two) then one
    * correctly-rounded division by h₍k₎.
    */
  private def kmvReportCols(k: Int): Seq[org.apache.spark.sql.Column] = Seq(
    lit(k).as("k_cap"),
    size(col("sk")).cast("long").as("sketch_size"),
    when(size(col("sk")) > 0, element_at(col("sk"), -1))
      .otherwise(lit(0L)).as("kth_hash"),
    when(size(col("sk")) < k, size(col("sk")).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(KmvHashRange) /
        element_at(col("sk"), -1).cast("double"))
      .as("est_distinct"))

  private def kmvReport(sk: DataFrame, k: Int): DataFrame =
    sk.select(kmvReportCols(k): _*)

  /** Sketch budget for the GROUPED cardinality profile: per-group type
    * counts are corpus-count divided by the group fan-out, so the grouped
    * row runs a smaller k than the corpus-wide [[KmvK]] to keep the
    * estimator path (not just the exact small-cardinality identity)
    * live per group. 32 minima ≈ 18% expected relative error at 256 B of
    * state per group — the profiling operating point, where the answer
    * drives mixing weights, not billing.
    */
  val KmvGroupK: Int = 32

  /** GROUPED KMV — one distinct-type estimate per key (per-source,
    * per-language): the same one-scan bottom-k-distinct fold keyed by the
    * group, so the aggregation output is O(groups·k) and the vocabulary
    * still never shuffles (contrast a per-group `vocabulary` pass: every
    * distinct (group, type) pair through the Exchange). Each group's
    * sketch is independently a pure function of that group's token set —
    * the grouped oracle re-derives every row with a per-group
    * row_number ≤ k — and groups below k distinct types take the exact
    * identity path while larger ones estimate, per group, with the
    * crossover at k.
    */
  def distinctKmvBy(corpus: DataFrame, keyCol: String, textCol: String,
      k: Int = KmvGroupK): DataFrame =
    corpus.select(col(keyCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(keyCol)
      .agg(graft.functions.expressions.BottomKDistinctAgg
        .of(hash60(col("token")), k).as("sk"))
      .select(col(keyCol) +: kmvReportCols(k): _*)

  /** INCREMENTAL KMV — cardinality profiling at ingest: each micro-batch
    * folds its token hashes into a distributed ≤ k-entry sketch (one
    * aggregation row moves to the driver), which merges into the running
    * cross-batch sketch with the same bottom-k combine the in-plan
    * partials use — bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B)),
    * so the accumulated state is THE KMV sketch of everything ingested,
    * independent of batch split, bounded at k longs however long the
    * stream runs. The fold persists per batch via [[graft.streaming.
    * DriverFold]] (atomic tmp+rename; replayed ids at or below the
    * watermark skip their merge), so a driver restart resumes without
    * double-counting. Output ≡ [[distinctKmv]] of the ingested corpus.
    */
  def distinctKmvIngest(stream: DataFrame, textCol: String,
      k: Int = KmvK,
      onBatch: Int => Unit = _ => (),
      checkpoint: Option[String] = None,
      stateDir: Option[String] = None)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val sketch = kmvFold(stream, textCol, k, onBatch, checkpoint, stateDir)
    import spark.implicits._
    kmvReport(Seq(sketch.toSeq).toDF("sk"), k)
  }

  /** The ungrouped KMV ingestion fold shared by [[distinctKmvIngest]] and
    * [[corpusOverlapKmvIngest]]: per micro-batch one bottom-k aggregation
    * (≤ k longs to the driver) merges into the running sketch with the
    * sketch's own combine, [[graft.streaming.DriverFold]]-persisted —
    * replayed ids at or below the watermark skip their merge. Returns the
    * folded sketch.
    */
  private def kmvFold(stream: DataFrame, textCol: String, k: Int,
      onBatch: Int => Unit, checkpoint: Option[String],
      stateDir: Option[String])(
      implicit spark: org.apache.spark.sql.SparkSession)
      : scala.collection.mutable.TreeSet[Long] =
    graft.streaming.DriverFold.fold(
        stream.select(explode(tokens(col(textCol))).as("token")),
        scala.collection.mutable.TreeSet.empty[Long], checkpoint, stateDir)(
      (sketch, batch) => {
        batch.agg(graft.functions.expressions.BottomKDistinctAgg
            .of(hash60(col("token")), k).as("sk")).head().getSeq[Long](0)
          .foreach(graft.functions.expressions.BottomKDistinctAgg.add(sketch, _, k))
        sketch
      },
      sketch => onBatch(sketch.size))

  /** KMV corpus-overlap estimation — union size, Jaccard and
    * intersection size of two corpora's token-type SETS from two bounded
    * sketches, with NO join between the corpora (Beyer et al. SIGMOD'07
    * §5: the k smallest hashes of A ∪ B are computable from the two
    * per-side sketches, and the fraction ρ/k_U of them present in BOTH
    * sides estimates the Jaccard similarity; intersection = Jaccard ·
    * union). The exact alternative is a full vocabulary-vs-vocabulary
    * anti/semi join — two type-keyed shuffles of every distinct token in
    * each corpus; this is one aggregation ROW per side: both sketches
    * fold in a single pass over the tagged union of the two token
    * streams (the side tag routes each hash to its sketch via the
    * aggregate's null-skip — no second scan, no join at any point).
    *
    * Every output is deterministic: the per-side sketches are pure
    * functions of the token sets, the union sketch is the k smallest of
    * their union (computed as pure column work over the one row —
    * array_union/sort/slice), ρ is set arithmetic over those arrays, and
    * the estimates are the same fixed IEEE dags as [[distinctKmv]] — so
    * a DuckDB oracle re-derives sketches, ρ and all five estimates
    * bit-identically. The use cases are the cross-CORPUS questions a
    * training-data pipeline asks before mixing: how much does a new
    * crawl overlap the existing corpus, did two sources scrape the same
    * site, is a benchmark's vocabulary disjoint from the training mix.
    */
  def corpusOverlapKmv(a: DataFrame, b: DataFrame, textCol: String,
      k: Int = KmvK): DataFrame = {
    def side(df: DataFrame, tag: Int) =
      df.select(explode(tokens(col(textCol))).as("token"))
        .select(hash60(col("token")).as("h"), lit(tag).as("side"))
    overlapReport(side(a, 1).unionByName(side(b, 2)).agg(
      graft.functions.expressions.BottomKDistinctAgg
        .of(when(col("side") === 1, col("h")), k).as("ska"),
      graft.functions.expressions.BottomKDistinctAgg
        .of(when(col("side") === 2, col("h")), k).as("skb")), k)
  }

  /** The overlap estimate tail over a one-row frame bearing the two
    * per-side sketch arrays `ska`/`skb` (ascending) — shared by the
    * batch scan and the ingestion fold. Union sketch = k smallest of the
    * merged retained sets (the bottom-k identity makes that THE sketch
    * of A ∪ B); ρ = how many of those are retained by BOTH sides. All
    * double arithmetic is the [[distinctKmv]] estimator dag plus one
    * guarded division (ρ/k_U) and one product (Jaccard · union).
    */
  private[text] def overlapReport(row: DataFrame, k: Int,
      keyCols: Seq[String] = Nil): DataFrame = {
    def est(sk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(size(sk) < k, size(sk).cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(KmvHashRange) /
          element_at(sk, -1).cast("double"))
    val withU = row
      .withColumn("u", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("ku", size(col("u")).cast("long"))
      .withColumn("rho",
        size(array_intersect(array_intersect(col("u"), col("ska")),
          col("skb"))).cast("long"))
    val jac = when(col("ku") === 0, lit(0.0))
      .otherwise(col("rho").cast("double") / col("ku").cast("double"))
    withU.select(keyCols.map(col) ++ Seq(
      lit(k).as("k_cap"),
      size(col("ska")).cast("long").as("size_a"),
      size(col("skb")).cast("long").as("size_b"),
      col("ku").as("union_size"),
      col("rho").as("shared_in_union"),
      est(col("ska")).as("est_a"),
      est(col("skb")).as("est_b"),
      est(col("u")).as("est_union"),
      jac.as("jaccard_est"),
      (jac * est(col("u"))).as("est_intersection")): _*)
  }

  /** PAIRWISE source-overlap matrix — the dedup-planning profile "which
    * sources scraped the same content": Jaccard/union/intersection
    * estimates for EVERY pair of sources, from one grouped sketch pass.
    * The exact answer is a quadratic blow-up (per-pair vocabulary
    * intersections — at 20 sources, 190 type-keyed joins); here ONE scan
    * builds a per-source KMV sketch (O(groups·k) total state), the pair
    * grid comes from exploding the collected key list against the
    * sketch table (equi-joins only — no non-equi pair join anywhere),
    * and every pair's report is the [[overlapReport]] column dag over
    * its two sketch arrays. Each per-source sketch is deterministic, so
    * all O(groups²) estimates re-derive in the oracle. Pairs whose
    * combined types fit k get EXACT answers (the small-cardinality
    * identity pairwise); bigger pairs estimate — at any corpus size the
    * cost after the scan is groups²·k column work, never data-scale.
    */
  def sourceOverlapMatrix(corpus: DataFrame, keyCol: String, textCol: String,
      k: Int = KmvK): DataFrame =
    matrixFromSketches(graft.Caches.track(
      corpus.select(col(keyCol), explode(tokens(col(textCol))).as("token"))
        .groupBy(keyCol)
        .agg(graft.functions.expressions.BottomKDistinctAgg
          .of(hash60(col("token")), k).as("sk"))), keyCol, k)

  /** The matrix tail over a (key, sk) sketch table — shared by the batch
    * scan and the ingestion fold: pair grid by exploding the collected
    * key list (equi-joins only), then the [[overlapReport]] dag per
    * pair. */
  private def matrixFromSketches(sk: DataFrame, keyCol: String,
      k: Int): DataFrame = {
    val keys = sk.select(col(keyCol).cast("string")).collect()
      .map(_.getString(0)).sorted.toSeq
    val pairs = sk
      .select(col(keyCol).cast("string").as("key_a"), col("sk").as("ska"))
      .withColumn("key_b", explode(typedLit(keys)))
      .filter(col("key_a") < col("key_b"))
      .join(broadcast(sk.select(col(keyCol).cast("string").as("key_b"),
        col("sk").as("skb"))), "key_b")
    overlapReport(pairs, k, Seq("key_a", "key_b"))
  }

  /** The keyed-sketch ingestion fold shared by [[distinctKmvByIngest]]
    * and [[sourceOverlapMatrixIngest]]: per micro-batch one grouped
    * bottom-k aggregation (O(groups·k) rows to the driver) merges into a
    * key→sketch map with the sketch's own combine — per key the fold IS
    * the batch sketch of that key's ingested tokens (the bottom-k
    * identity), O(groups·k) driver state however long the stream runs,
    * [[graft.streaming.DriverFold]]-persisted (restart skips replayed
    * batches). Returns the folded (key, sk) table.
    */
  private def keyedKmvFold(stream: DataFrame, keyCol: String,
      textCol: String, k: Int,
      onBatch: Int => Unit,
      checkpoint: Option[String],
      stateDir: Option[String])(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val sketches = graft.streaming.DriverFold.fold(
        stream.select(col(keyCol).cast("string").as("k"),
          explode(tokens(col(textCol))).as("token")),
        scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.TreeSet[Long]],
        checkpoint, stateDir)(
      (sketches, batch) => {
        batch.groupBy("k")
          .agg(graft.functions.expressions.BottomKDistinctAgg
            .of(hash60(col("token")), k).as("sk"))
          .collect().foreach { r =>
            val s = sketches.getOrElseUpdate(r.getString(0),
              scala.collection.mutable.TreeSet.empty[Long])
            r.getSeq[Long](1).foreach(
              graft.functions.expressions.BottomKDistinctAgg.add(s, _, k))
          }
        sketches
      },
      sketches => onBatch(sketches.size))
    import spark.implicits._
    sketches.toSeq.map { case (key, s) => (key, s.toSeq) }
      .toDF(keyCol, "sk")
  }

  /** [[distinctKmvBy]] AT INGESTION — per-key cardinality profiling of
    * everything ingested, through [[keyedKmvFold]] + the shared estimate
    * tail; output ≡ the batch row, shared oracle. */
  def distinctKmvByIngest(stream: DataFrame, keyCol: String,
      textCol: String, k: Int = KmvGroupK,
      onBatch: Int => Unit = _ => (),
      checkpoint: Option[String] = None,
      stateDir: Option[String] = None)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame =
    keyedKmvFold(stream, keyCol, textCol, k, onBatch, checkpoint, stateDir)
      .select(col(keyCol) +: kmvReportCols(k): _*)

  /** [[sourceOverlapMatrix]] AT INGESTION — the pairwise overlap profile
    * maintained while the corpus streams in, through [[keyedKmvFold]] +
    * the shared matrix tail; output ≡ the batch row, shared oracle. */
  def sourceOverlapMatrixIngest(stream: DataFrame, keyCol: String,
      textCol: String, k: Int = KmvK,
      onBatch: Int => Unit = _ => (),
      checkpoint: Option[String] = None,
      stateDir: Option[String] = None)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame =
    matrixFromSketches(
      keyedKmvFold(stream, keyCol, textCol, k, onBatch, checkpoint, stateDir),
      keyCol, k)

  /** [[corpusOverlapKmv]] AT INGESTION — the overlap monitor a pipeline
    * runs while a new crawl streams in ("how much of this is already in
    * the corpus?"): the REFERENCE side's sketch derives offline from the
    * archived corpus (one aggregation row, computed once), the stream
    * side folds per micro-batch into O(k) driver state exactly as
    * [[distinctKmvIngest]] (one ≤ k-entry aggregation row per trigger,
    * merged with the sketch's own combine, [[graft.streaming.
    * DriverFold]]-persisted — restart resumes without double-folding).
    * Output ≡ the batch report over (ingested, reference), shared tail,
    * shared oracle.
    */
  def corpusOverlapKmvIngest(stream: DataFrame, reference: DataFrame,
      textCol: String, k: Int = KmvK,
      onBatch: Int => Unit = _ => (),
      checkpoint: Option[String] = None,
      stateDir: Option[String] = None)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val sketch = kmvFold(stream, textCol, k, onBatch, checkpoint, stateDir)
    val skb = reference.select(explode(tokens(col(textCol))).as("token"))
      .agg(graft.functions.expressions.BottomKDistinctAgg
        .of(hash60(col("token")), k).as("sk")).head().getSeq[Long](0)
    import spark.implicits._
    overlapReport(Seq((sketch.toSeq, skb)).toDF("ska", "skb"), k)
  }

  /** Per-source ZIPF-slope profile — "does this source look like natural
    * language": the log-log regression of token frequency against
    * frequency rank. Natural text follows Zipf's law with slope ≈ −1;
    * OCR noise and machine-generated text deviate (flat head or
    * collapsed tail), so the slope is a source-level sanity gate next to
    * the hapax and PSI profiles.
    *
    * Chain: one (source, token) count aggregation (the vocabulary pass —
    * the honest Exchange when the whole distribution is needed), ranks
    * in a window PARTITIONED by source ((c DESC, token ASC) total order
    * — parallel across sources, no single-partition stage), both logs
    * quantized through the portable dag (x = floor(10⁶·plog(rank)),
    * y = floor(10⁶·plog(c)) — exact int64 metrics), then the EXACT
    * decimal correlation dag ([[graft.pipeline.Profiling.metricCorrBy]]
    * — HUGEINT-mirrored sufficient statistics, pinned double tail).
    * Output per source: (key, n_types, corr, slope); slope is the Zipf
    * exponent estimate (≈ −1 for natural text).
    */
  def zipfProfile(corpus: DataFrame, keyCol: String,
      textCol: String): DataFrame = {
    import graft.functions.PortableLog
    import org.apache.spark.sql.expressions.Window
    val tc = corpus
      .select(col(keyCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(keyCol, "token").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(keyCol)
      .orderBy(col("c").desc, col("token").asc)
    def q(x: org.apache.spark.sql.Column) =
      floor(lit(1.0e6) * PortableLog.plogCol(x.cast("double"))).cast("long")
    val ranked = tc.withColumn("r", row_number().over(w))
      .select(col(keyCol), q(col("r")).as("xq"), q(col("c")).as("yq"))
    graft.pipeline.Profiling
      .metricCorrBy(ranked, keyCol, col("xq"), col("yq"))
      .withColumnRenamed("n_docs", "n_types")
  }

  /** COLLOCATION extraction by pointwise mutual information — "which
    * token pairs stick together more than chance": PMI(w1, w2) =
    * ln(p(w1 w2)/(p(w1)p(w2))) = ln(c2·N/(c1(w1)·c1(w2))), the classic
    * corpus-analysis op (multi-word expressions, named entities,
    * tokenizer-merge seeding — BPE's objective is raw frequency; PMI
    * surfaces the pairs that are ASSOCIATED, not merely common).
    *
    * Chain: one token scan (unigram counts + exact N), one bigram scan
    * (pair counts, floored at `minCount` — PMI is notoriously noisy on
    * rare pairs), two vocabulary-sized joins attaching the marginals
    * (the LM-training join shape), then the quantized portable log of
    * x = (c2·N)/(c1·c1') computed in double (the int64 product c2·N
    * overflows at corpus scale; the double dag is pinned: two multiplies,
    * one divide, plog, floor). Top-k by (pmi_q DESC, bigram) plans as
    * TakeOrderedAndProject — per-partition heads, no global sort; k is a
    * policy dimension. Output: (bigram, c2, pmi_q).
    */
  def collocations(corpus: DataFrame, textCol: String, k: Int = 50,
      minCount: Long = 5L): DataFrame = {
    import graft.functions.PortableLog
    val c1 = graft.Caches.track(
      corpus.select(explode(tokens(col(textCol))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c1")))
    val n = c1.agg(coalesce(sum(col("c1")), lit(0L))).first().getLong(0)
    require(n > 0, "collocations need a non-empty corpus")
    val c2 = corpus
      .select(explode(wordGrams(col(textCol), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val x = (col("c2").cast("double") * lit(n.toDouble)) /
      (col("c1a").cast("double") * col("c1b").cast("double"))
    c2.join(c1.select(col("token").as("__w1"), col("c1").as("c1a")),
        substring_index(col("bigram"), " ", 1) === col("__w1"))
      .join(c1.select(col("token").as("__w2"), col("c1").as("c1b")),
        substring_index(col("bigram"), " ", -1) === col("__w2"))
      .select(col("bigram"), col("c2"),
        floor(lit(1.0e6) * PortableLog.plogCol(x)).cast("long").as("pmi_q"))
      .orderBy(col("pmi_q").desc, col("bigram").asc)
      .limit(k)
  }

  /** (token, df): document frequency of every distinct token — the number
    * of documents containing it at least once. One narrow explode of the
    * per-document DISTINCT token set (no countDistinct expand), one
    * aggregation Exchange on the token, map-side partial counts.
    */
  def vocabulary(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))

  /** Score every document by corpus-frequency statistics of its tokens
    * (with multiplicity): total and mean document frequency, and the
    * hapax ratio (fraction of token occurrences whose type appears in
    * exactly one document — the classic OCR-garbage / machine-noise
    * signal: junk text is hapax-dense, natural text is not).
    *
    * Output keeps EVERY document: (id, n_tokens, sum_df, mean_df,
    * hapax_ratio); zero-token docs score (0, 0, 0.0, 0.0). All doubles
    * are single divisions of exact integer sums (order-free long adds),
    * so the DuckDB oracle is bit-equal regardless of plan.
    *
    * The vocabulary is materialized once (it feeds the strategy decision
    * AND the join; at 100 TB this would be a checkpoint, here a tracked
    * cache) and its exact size — an O(vocab) count on the cached result,
    * not a second corpus scan — picks the join strategy per the class
    * scaladoc.
    */
  /** Fold a DISJOINT increment's vocabulary into a base: df counts the
    * documents containing each type, so counts over disjoint document
    * sets ADD — union + per-token sum equals [[vocabulary]] over the
    * union corpus exactly (the LM-counts merge ≡ retrain argument
    * applied to the df table; the merged row shares the full-corpus
    * oracle as its proof). At 100 TB the nightly job folds one day's
    * vocabulary into the committed generation instead of rescanning. */
  def mergeVocab(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("token")
      .agg(org.apache.spark.sql.functions.sum(col("df")).as("df"))

  def dfScore(corpus: DataFrame, idCol: String, textCol: String,
      maxBroadcastVocab: Long = MaxBroadcastVocab): DataFrame =
    dfScoreWith(corpus, idCol, textCol,
      vocabulary(corpus, idCol, textCol), maxBroadcastVocab)

  /** [[dfScore]] against a SUPPLIED (possibly loaded/merged) vocabulary
    * relation — the serve-from-the-store path. The vocabulary must cover
    * the corpus (true for a corpus-derived or merged-superset table);
    * the inner probe join preserves multiplicity exactly. */
  def dfScoreWith(corpus: DataFrame, idCol: String, textCol: String,
      vocabIn: DataFrame,
      maxBroadcastVocab: Long = MaxBroadcastVocab): DataFrame = {
    val vocab = graft.Caches.track(vocabIn)
    val probe =
      if (vocab.count() <= maxBroadcastVocab) broadcast(vocab)
      else vocab.hint("shuffle_hash")
    // every corpus token is in the corpus-derived vocabulary by
    // construction, so the inner join preserves multiplicity exactly
    val scored = corpus
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .join(probe, "token")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("df")).as("sum_df"),
        sum((col("df") === 1L).cast("long")).as("n_hapax"))
    corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_df"), lit(0L)).as("sum_df"),
        when(col("n_tokens") > 0,
          col("sum_df").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("mean_df"),
        when(col("n_tokens") > 0,
          coalesce(col("n_hapax"), lit(0L)).cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("hapax_ratio"))
  }
}
