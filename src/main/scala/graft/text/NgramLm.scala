package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.functions.PortableLog

/** CCNet-style n-gram language-model scoring — "train a small LM on the
  * reference corpus, score every raw document by per-token log-likelihood"
  * (Wenzek et al. 2020 do it with KenLM 5-grams; the operator here is an
  * add-one-smoothed BIGRAM model, the same deployment shape at the
  * engine's determinism standard). Low likelihood under a clean reference
  * model is the classic gibberish/OCR/boilerplate signal, complementary to
  * the corpus-frequency scorer ([[CorpusStats.dfScore]] — that one is
  * sequence-blind; this one charges for improbable TRANSITIONS).
  *
  * Model: p(w2|w1) = (c2(w1 w2) + 1) / (c1(w1) + V), counts from the
  * training corpus, V = its distinct-type count. A document's score is the
  * sum over its bigrams (with multiplicity) of
  * floor(1e6 · plog(p(w2|w1))) — quantized per bigram, then an INTEGER
  * sum, so the total is order-free and exact; the logarithm is the
  * engine's portable dag ([[PortableLog]]), so the DuckDB oracle
  * re-derives model AND scores bit-identically.
  *
  * Scale shape: training = two token-keyed aggregations (map-side
  * partials) + one model-side join of c2 with c1 (vocabulary-sized);
  * scoring = one corpus scan probing the model relation, size-GUARDED
  * like the vocabulary join ([[CorpusStats.MaxBroadcastVocab]] applied to
  * the bigram table): broadcast below the ceiling, shuffle-hash with the
  * model as build side above it — never an un-runnable broadcast, never a
  * sort of the exploded corpus. Unseen bigrams/heads cost nothing extra:
  * the probe is a left join and smoothing covers the misses.
  */
object NgramLm {

  val Scale: Double = 1.0e6

  /** Trained model: bigram → quantized conditional log-prob for SEEN
    * bigrams, head-token counts for the unseen-bigram smoothing path, and
    * the type count V. `qSeen` carries q = floor(1e6·plog((c2+1)/(c1+V)))
    * precomputed per distinct bigram (cheaper than per occurrence);
    * misses re-derive q from (0+1)/(c1+V) at probe time.
    *
    * Probe-relation row counts MEMOIZE per instance (lazy — computed by
    * the first broadcast guard, reused by every later `score()` call):
    * re-counting per score invocation is ~0.3 s on a cached local model
    * but a full job per call against an uncached 100 TB-scale model
    * table. The head count is pinned to V at train time (heads = the
    * distinct-token relation by construction).
    */
  final case class Model(qSeen: DataFrame, heads: DataFrame, v: Long) {
    lazy val qSeenRows: Long = qSeen.count()
    lazy val headsRows: Long = v
  }

  /** Quantized conditional log-prob for a (c2, c1) count pair — shared by
    * the seen-bigram precompute, the batch miss path, and the streaming
    * twin's miss path, so every caller quantizes identically.
    */
  def qCol(c2: Column, c1: Column, v: Long): Column =
    floor(lit(Scale) * PortableLog.plogCol(
      (c2 + lit(1L)).cast("double") / (c1 + lit(v)).cast("double")))

  /** The MERGEABLE representation of the model: the raw token and
    * bigram count tables. q and V are DERIVED quantities; the counts
    * are order-free integer sums, so counts over DISJOINT corpora ADD —
    * [[mergeCounts]] folds tonight's increment into last night's
    * generation and the result is EXACTLY the counts of a train on the
    * union (merge ≡ retrain, proved by the merged rows sharing a
    * train-on-the-union oracle). At 100 TB this replaces a full-corpus
    * retrain with an aggregation over (yesterday's model table + one
    * day's increment). */
  final case class Counts(c1: DataFrame, c2: DataFrame)

  /** The two training aggregations as count tables (the only
    * corpus-sized work in a fit). */
  def countTables(training: DataFrame, textCol: String): Counts = Counts(
    training.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c1")),
    training.select(explode(wordGrams(col(textCol), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c2")))

  /** Fold an increment into a base: union + re-sum per key — integer
    * adds, partitioning-independent, equal BY VALUE to counting the
    * union corpus directly. The inputs must cover DISJOINT documents
    * (double-counting is the caller's bug, same as any incremental
    * pipeline). */
  def mergeCounts(base: Counts, delta: Counts): Counts = Counts(
    base.c1.unionByName(delta.c1)
      .groupBy("token").agg(sum(col("c1")).as("c1")),
    base.c2.unionByName(delta.c2)
      .groupBy("bigram").agg(sum(col("c2")).as("c2")))

  /** Derive the probe-ready model (V, smoothed quantized q) from count
    * tables — the tail of [[train]], shared by the merge path so a
    * merged generation scores through the identical dag. */
  def modelFromCounts(cts: Counts): Model = {
    val c1 = graft.Caches.track(cts.c1)
    val v = c1.count()
    // q only — c1 rides in `heads`; a dead column here would inflate the
    // cached/broadcast model relation for every probe
    val qSeen = graft.Caches.track(
      cts.c2.join(c1.withColumnRenamed("token", "__w1"),
          substring_index(col("bigram"), " ", 1) === col("__w1"))
        .select(col("bigram"),
          qCol(col("c2"), col("c1"), v).cast("long").as("q")))
    Model(qSeen, c1.withColumnRenamed("token", "__w1"), v)
  }

  /** Fit the bigram model on `training`. Both relations are cached (they
    * feed the guard count AND the probe; at 100 TB they would be
    * checkpointed tables refreshed offline, exactly KenLM's role in
    * CCNet).
    */
  def train(training: DataFrame, textCol: String): Model =
    modelFromCounts(countTables(training, textCol))

  /** Persist COUNT tables (the mergeable artifact) as a ModelStore
    * generation — exact integers, value-exact round trip. */
  def saveCounts(spark: org.apache.spark.sql.SparkSession, cts: Counts,
      root: String): Long =
    graft.pipeline.ModelStore.save(spark, root,
      Seq("c1" -> cts.c1, "c2" -> cts.c2))

  def loadCounts(spark: org.apache.spark.sql.SparkSession,
      root: String): Counts = {
    import graft.pipeline.ModelStore
    Counts(ModelStore.loadRelation(spark, root, "c1"),
      ModelStore.loadRelation(spark, root, "c2"))
  }

  /** The nightly increment fold: merge `delta` (counts of the day's NEW
    * documents) into the committed generation and commit the result as
    * generation k+1 — no corpus rescan, no retrain; readers pick up the
    * new generation at their next [[loadCounts]]. Returns the committed
    * generation id. */
  def mergeIntoStore(spark: org.apache.spark.sql.SparkSession, root: String,
      delta: Counts): Long =
    saveCounts(spark, mergeCounts(loadCounts(spark, root), delta), root)

  /** The join-probe-and-smooth step, single-sourced for the batch scorer
    * and both streaming rows: rows carrying a `bigram` column gain `out`
    * (the quantized conditional log-prob — seen path from the model,
    * miss path re-derived via [[qCol]] smoothing) and lose the probe
    * plumbing columns. `fitsBroadcast` picks the guarded strategy;
    * `keepBigram` leaves the probe key in place so a second model can
    * probe the same exploded stream (the contrastive scorer).
    */
  def probeQq(rows: DataFrame, m: Model, fitsBroadcast: Boolean,
      out: String = "qq", keepBigram: Boolean = false): DataFrame = {
    val q0 = m.qSeen
    val (qp, hp) =
      if (fitsBroadcast) (broadcast(q0), broadcast(m.heads))
      else (q0.hint("shuffle_hash"), m.heads.hint("shuffle_hash"))
    val probed = rows.join(qp, Seq("bigram"), "left")
      .join(hp, substring_index(col("bigram"), " ", 1) === col("__w1"), "left")
      .withColumn(out,
        coalesce(col("q"),
          qCol(lit(0L), coalesce(col("c1"), lit(0L)), m.v).cast("long")))
      .drop("q", "c1", "__w1")
    if (keepBigram) probed else probed.drop("bigram")
  }

  /** Persist a trained model through [[graft.pipeline.ModelStore]] —
    * the "train nightly, serve from disk" production shape: count tables
    * are exact integer relations and q is pre-quantized, so a parquet
    * round trip is value-exact by construction (the loaded-model query
    * rows prove it against the SAME oracle that re-derives the model
    * from the training data). Returns the committed generation.
    */
  def save(spark: org.apache.spark.sql.SparkSession, m: Model,
      root: String): Long =
    graft.pipeline.ModelStore.save(spark, root,
      Seq("q_seen" -> m.qSeen, "heads" -> m.heads),
      Map("v" -> m.v.toString))

  /** Load the committed model generation; relations are cache-tracked
    * exactly as [[train]] leaves them (they feed the guard count and the
    * probe). */
  def load(spark: org.apache.spark.sql.SparkSession, root: String): Model = {
    import graft.pipeline.ModelStore
    val v = ModelStore.loadParams(spark, root)("v").toLong
    Model(
      graft.Caches.track(ModelStore.loadRelation(spark, root, "q_seen")),
      graft.Caches.track(ModelStore.loadRelation(spark, root, "heads")), v)
  }

  /** Stupid-backoff model (Brants et al. 2007, "Large Language Models in
    * Machine Translation" — the smoothing scheme DESIGNED for distributed
    * LMs: raw relative frequencies, no normalization, a fixed 0.4 backoff
    * weight): p(w2|w1) = c2/c1 when the bigram is attested, else
    * 0.4·c1(w2)/N. Cheaper to build than any discounted model (pure
    * counts — no continuation statistics) and the published choice at
    * web corpus scale. An entirely unseen target bottoms out at plog(0) —
    * the portable dag's FINITE floor (≈ −2.01·10⁵ where ln gives −∞; the
    * sqrt-nest of 0 is 0, z = −1, series finite) — which both engines
    * compute identically, so the OOV penalty is deterministic by
    * construction rather than by an ad-hoc epsilon.
    */
  final case class BackoffModel(qSeen: DataFrame, unigrams: DataFrame, n1: Long) {
    lazy val qSeenRows: Long = qSeen.count()
    lazy val unigramRows: Long = unigrams.count()
  }

  def trainBackoff(training: DataFrame, textCol: String): BackoffModel =
    backoffFromCounts(countTables(training, textCol))

  /** Derive the backoff model from count tables — the tail of
    * [[trainBackoff]]; [[Counts]] is the same mergeable artifact as the
    * add-one model's (the two families share [[countTables]]/
    * [[mergeCounts]]/[[saveCounts]]), so a merged generation serves the
    * backoff scorer too — merge ≡ retrain holds identically (MLE ratios
    * and n1 re-derive from the merged counts). */
  def backoffFromCounts(cts: Counts): BackoffModel = {
    val c1 = graft.Caches.track(cts.c1)
    val n1 = c1.agg(coalesce(sum(col("c1")), lit(0L))).first().getLong(0)
    require(n1 > 0, "backoff LM needs a non-empty training corpus")
    val qSeen = graft.Caches.track(
      cts.c2.join(c1.withColumnRenamed("token", "__w1"),
          substring_index(col("bigram"), " ", 1) === col("__w1"))
        .select(col("bigram"),
          floor(lit(Scale) * graft.functions.PortableLog.plogCol(
            col("c2").cast("double") / col("c1").cast("double")))
            .cast("long").as("qb")))
    BackoffModel(qSeen, c1.withColumnRenamed("token", "__w2"), n1)
  }

  /** Trigram-backoff twins of [[save]]/[[load]] — count tables and
    * quantized values are exact integers, so the round trips are
    * value-exact. */
  def saveBackoff3(spark: org.apache.spark.sql.SparkSession, m: Backoff3Model,
      root: String): Long =
    graft.pipeline.ModelStore.save(spark, root,
      Seq("q3" -> m.q3, "q2" -> m.q2, "unigrams" -> m.unigrams),
      Map("n1" -> m.n1.toString))

  def loadBackoff3(spark: org.apache.spark.sql.SparkSession,
      root: String): Backoff3Model = {
    import graft.pipeline.ModelStore
    Backoff3Model(
      graft.Caches.track(ModelStore.loadRelation(spark, root, "q3")),
      graft.Caches.track(ModelStore.loadRelation(spark, root, "q2")),
      graft.Caches.track(ModelStore.loadRelation(spark, root, "unigrams")),
      ModelStore.loadParams(spark, root)("n1").toLong)
  }

  /** Backoff scoring — same output contract as [[score]], same guarded
    * probe shape; the miss path re-derives 0.4·c1(w2)/N per row via the
    * portable log (the backoff expression is only EVALUATED on misses —
    * coalesce short-circuits — but is staged unconditionally in the
    * oracle, value-identically).
    */
  def scoreBackoff(corpus: DataFrame, idCol: String, textCol: String,
      m: BackoffModel,
      maxBroadcastModel: Long = CorpusStats.MaxBroadcastVocab): DataFrame = {
    // guard on the LARGEST probed relation — both qSeen and the unigram
    // table are broadcast together, so an under-ceiling bigram table must
    // not smuggle an oversized vocabulary past the memory bound
    val fitsBroadcast =
      math.max(m.qSeenRows, m.unigramRows) <= maxBroadcastModel
    val scored = probeQqBackoff(
      corpus.select(col(idCol), explode(wordGrams(col(textCol), 2)).as("bigram")),
      m, fitsBroadcast)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("qq")).as("lm_logp_q"))
    perDocTotals(corpus, idCol, scored)
  }

  /** Backoff twin of [[probeQq]] — rows carrying `bigram` gain `qq`
    * (seen-path MLE from the model, miss-path 0.4·c1(w2)/N via the
    * portable log) and lose the probe plumbing columns.
    */
  def probeQqBackoff(rows: DataFrame, m: BackoffModel,
      fitsBroadcast: Boolean): DataFrame = {
    val (qp, up) =
      if (fitsBroadcast) (broadcast(m.qSeen), broadcast(m.unigrams))
      else (m.qSeen.hint("shuffle_hash"), m.unigrams.hint("shuffle_hash"))
    val backoffQ = floor(lit(Scale) * graft.functions.PortableLog.plogCol(
      lit(0.4) * (coalesce(col("c1"), lit(0L)).cast("double") /
        lit(m.n1).cast("double")))).cast("long")
    rows.join(qp, Seq("bigram"), "left")
      .join(up, substring_index(col("bigram"), " ", -1) === col("__w2"), "left")
      .withColumn("qq", coalesce(col("qb"), backoffQ))
      .drop("bigram", "qb", "c1", "__w2")
  }

  /** Score every document: (id, n_bigrams, lm_logp_q, xent) where
    * lm_logp_q = Σ q over the doc's bigrams and xent =
    * (−lm_logp_q)/(n·1e6) — mean negative log-likelihood per bigram, a
    * single exact-input double division. Docs with < 2 tokens score
    * (0, 0, 0.0).
    */
  def score(corpus: DataFrame, idCol: String, textCol: String, m: Model,
      maxBroadcastModel: Long = CorpusStats.MaxBroadcastVocab): DataFrame = {
    // max over BOTH probed relations (seen bigrams + head counts) — the
    // strategy applies to each, so each must clear the ceiling
    val fitsBroadcast =
      math.max(m.qSeenRows, m.headsRows) <= maxBroadcastModel
    val scored = probeQq(
      corpus.select(col(idCol), explode(wordGrams(col(textCol), 2)).as("bigram")),
      m, fitsBroadcast)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("qq")).as("lm_logp_q"))
    perDocTotals(corpus, idCol, scored)
  }

  /** Moore–Lewis cross-entropy-difference scoring (Moore & Lewis 2010,
    * "Intelligent Selection of Language Model Training Data" — the
    * classic contrastive data-selection recipe and DSIR's published
    * ancestor): score every document by how much better the IN-DOMAIN
    * language model explains it than the GENERAL model. Two bigram
    * models ([[train]] — in-domain on a target slice, general on the
    * broad corpus), ONE corpus scan: the exploded bigram stream probes
    * both model relations in sequence (four guarded left joins — the
    * corpus is never scanned per model), one aggregation collects
    * n_bigrams and both quantized log-likelihood sums as exact integer
    * adds.
    *
    * Output: (id, n_bigrams, lm_in_q, lm_gen_q, ml_q, ml_xent) where
    * ml_q = lm_in_q − lm_gen_q (the in-domain log-likelihood advantage,
    * exact int64 — HIGHER = more in-domain) and ml_xent = −ml_q/(n·10⁶)
    * = xent_in − xent_gen, the paper's selection score (LOWER = more
    * in-domain), computed as ONE division of the exact integer delta —
    * not the difference of two divisions, which would round twice.
    * Every doc is kept; zero-bigram docs score (0, 0, 0, 0.0).
    *
    * Scale shape: both trainings are token-keyed aggregations on their
    * slices; scoring adds ONE probe pass. The broadcast guard takes the
    * max over all FOUR probed relations — one strategy probes them all,
    * so each must clear the ceiling.
    */
  def scoreContrast(corpus: DataFrame, idCol: String, textCol: String,
      mIn: Model, mGen: Model,
      maxBroadcastModel: Long = CorpusStats.MaxBroadcastVocab): DataFrame = {
    val fitsBroadcast = Seq(mIn.qSeenRows, mIn.headsRows,
      mGen.qSeenRows, mGen.headsRows).max <= maxBroadcastModel
    val rows = corpus.select(col(idCol),
      explode(wordGrams(col(textCol), 2)).as("bigram"))
    val scored = probeQq(
        probeQq(rows, mIn, fitsBroadcast, out = "qq_in", keepBigram = true),
        mGen, fitsBroadcast, out = "qq_gen")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("qq_in")).as("lm_in_q"),
        sum(col("qq_gen")).as("lm_gen_q"))
    corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_in_q"), lit(0L)).as("lm_in_q"),
        coalesce(col("lm_gen_q"), lit(0L)).as("lm_gen_q"),
        (coalesce(col("lm_in_q"), lit(0L)) -
          coalesce(col("lm_gen_q"), lit(0L))).as("ml_q"),
        when(col("n_bigrams") > 0,
          (coalesce(col("lm_gen_q"), lit(0L)) -
            coalesce(col("lm_in_q"), lit(0L))).cast("double") /
            (col("n_bigrams").cast("double") * lit(Scale)))
          .otherwise(lit(0.0)).as("ml_xent"))
  }

  /** Shared output tail: every doc kept (zero-gram docs as (0, 0,
    * 0.0)), xent = mean negative log-likelihood per scored gram.
    */
  private def perDocTotals(corpus: DataFrame, idCol: String,
      scored: DataFrame, nCol: String = "n_bigrams"): DataFrame =
    corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(nCol), lit(0L)).as(nCol),
        coalesce(col("lm_logp_q"), lit(0L)).as("lm_logp_q"),
        when(col(nCol) > 0,
          (-coalesce(col("lm_logp_q"), lit(0L))).cast("double") /
            (col(nCol).cast("double") * lit(Scale)))
          .otherwise(lit(0.0)).as("xent"))

  /** MULTI-ORDER stupid backoff — the scheme as actually deployed
    * (Brants et al. chain down from the highest order with a fixed 0.4
    * per level): p(w3|w1w2) = c3/c2(w1w2) when the trigram is attested,
    * else 0.4·c2(w2w3)/c1(w2), else 0.4·0.4·c1(w3)/N. Both fallback
    * tables precompute their quantized values per attested key; only the
    * final unigram level derives per row. Three left-join probes on the
    * exploded trigram stream — no extra scans, same guarded strategy.
    */
  final case class Backoff3Model(q3: DataFrame, q2: DataFrame,
      unigrams: DataFrame, n1: Long) {
    lazy val q3Rows: Long = q3.count()
    lazy val q2Rows: Long = q2.count()
    lazy val unigramRows: Long = unigrams.count()
  }

  /** Three-order count tables — the mergeable artifact of the
    * multi-order backoff family (all three relations are order-free
    * sums over disjoint corpora). */
  final case class Counts3(c1: DataFrame, c2: DataFrame, c3: DataFrame)

  def countTables3(training: DataFrame, textCol: String): Counts3 = Counts3(
    training.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c1")),
    training.select(explode(wordGrams(col(textCol), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c2")),
    training.select(explode(wordGrams(col(textCol), 3)).as("trigram"))
      .groupBy("trigram").agg(count(lit(1)).as("c3")))

  def mergeCounts3(base: Counts3, delta: Counts3): Counts3 = Counts3(
    base.c1.unionByName(delta.c1)
      .groupBy("token").agg(sum(col("c1")).as("c1")),
    base.c2.unionByName(delta.c2)
      .groupBy("bigram").agg(sum(col("c2")).as("c2")),
    base.c3.unionByName(delta.c3)
      .groupBy("trigram").agg(sum(col("c3")).as("c3")))

  def saveCounts3(spark: org.apache.spark.sql.SparkSession, cts: Counts3,
      root: String): Long =
    graft.pipeline.ModelStore.save(spark, root,
      Seq("c1" -> cts.c1, "c2" -> cts.c2, "c3" -> cts.c3))

  def loadCounts3(spark: org.apache.spark.sql.SparkSession,
      root: String): Counts3 = {
    import graft.pipeline.ModelStore
    Counts3(ModelStore.loadRelation(spark, root, "c1"),
      ModelStore.loadRelation(spark, root, "c2"),
      ModelStore.loadRelation(spark, root, "c3"))
  }

  def mergeIntoStore3(spark: org.apache.spark.sql.SparkSession, root: String,
      delta: Counts3): Long =
    saveCounts3(spark, mergeCounts3(loadCounts3(spark, root), delta), root)

  def trainBackoff3(training: DataFrame, textCol: String): Backoff3Model =
    backoff3FromCounts(countTables3(training, textCol))

  /** Derive the multi-order model from count tables — the tail of
    * [[trainBackoff3]], shared by the merge path. */
  def backoff3FromCounts(cts: Counts3): Backoff3Model = {
    import graft.functions.PortableLog
    val c1 = graft.Caches.track(cts.c1)
    val n1 = c1.agg(coalesce(sum(col("c1")), lit(0L))).first().getLong(0)
    require(n1 > 0, "backoff LM needs a non-empty training corpus")
    val c2 = graft.Caches.track(cts.c2)
    val c3 = cts.c3
    val q3 = graft.Caches.track(
      c3.join(c2.withColumnRenamed("bigram", "__ctx"),
          substring_index(col("trigram"), " ", 2) === col("__ctx"))
        .select(col("trigram"),
          floor(lit(Scale) * PortableLog.plogCol(
            col("c3").cast("double") / col("c2").cast("double")))
            .cast("long").as("qb3")))
    val q2 = graft.Caches.track(
      c2.join(c1.withColumnRenamed("token", "__w1"),
          substring_index(col("bigram"), " ", 1) === col("__w1"))
        .select(col("bigram").as("__sfx"),
          floor(lit(Scale) * PortableLog.plogCol(
            lit(0.4) * (col("c2").cast("double") / col("c1").cast("double"))))
            .cast("long").as("qb2")))
    Backoff3Model(q3, q2, c1.withColumnRenamed("token", "__w3"), n1)
  }

  /** Multi-order twin of [[probeQq]]/[[probeQqBackoff]] — rows carrying a
    * `trigram` column gain `qq` (trigram MLE → 0.4·bigram → 0.4²·unigram,
    * the unigram level derived per row via the portable log) and lose the
    * probe plumbing columns. Shared by the batch scorer and the ingestion
    * twin, so both rows chain down the orders identically.
    */
  def probeQqBackoff3(rows: DataFrame, m: Backoff3Model,
      fitsBroadcast: Boolean): DataFrame = {
    import graft.functions.PortableLog
    def p(df: DataFrame) =
      if (fitsBroadcast) broadcast(df) else df.hint("shuffle_hash")
    val uniQ = floor(lit(Scale) * PortableLog.plogCol(
      lit(0.4) * (lit(0.4) * (coalesce(col("c1"), lit(0L)).cast("double") /
        lit(m.n1).cast("double"))))).cast("long")
    rows.join(p(m.q3), Seq("trigram"), "left")
      .join(p(m.q2),
        substring_index(col("trigram"), " ", -2) === col("__sfx"), "left")
      .join(p(m.unigrams),
        substring_index(col("trigram"), " ", -1) === col("__w3"), "left")
      .withColumn("qq", coalesce(col("qb3"), col("qb2"), uniQ))
      .drop("trigram", "qb3", "qb2", "c1", "__sfx", "__w3")
  }

  def scoreBackoff3(corpus: DataFrame, idCol: String, textCol: String,
      m: Backoff3Model,
      maxBroadcastModel: Long = CorpusStats.MaxBroadcastVocab): DataFrame = {
    // all three orders are probed with ONE strategy — guard on the max
    // (heavy trigram pruning or skewed vocab can leave q2 or unigrams
    // larger than q3; an under-ceiling q3 must not broadcast them)
    val fitsBroadcast =
      Seq(m.q3Rows, m.q2Rows, m.unigramRows).max <= maxBroadcastModel
    val scored = probeQqBackoff3(
      corpus.select(col(idCol), explode(wordGrams(col(textCol), 3)).as("trigram")),
      m, fitsBroadcast)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("qq")).as("lm_logp_q"))
    perDocTotals(corpus, idCol, scored, nCol = "n_trigrams")
  }
}
