package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard: the properties that matter at 100 TB must
  * be visible in the physical plan (pushdown, pruning, broadcast, partial
  * aggregation) — SURVEY §4.
  */
class PlanQualitySpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  // The degenerate-input scan fan-out (Tables.scanParallel, r16) adds
  // ONE documented round-robin exchange when a LOCAL single-split
  // fixture is scanned; it is a no-op on any input with enough splits
  // (i.e. at scale). The assertions in this spec pin the shuffles the
  // OPERATORS add — the 100 TB design properties — so the guard is
  // disabled for the whole suite (suites run sequentially in the forked
  // test JVM) and pinned by its own dedicated test below.
  override def beforeAll(): Unit = {
    spark.conf.set("spark.graft.scan.minPartitions", "0")
  }
  override def afterAll(): Unit = {
    spark.conf.unset("spark.graft.scan.minPartitions")
  }

  test("single-split scan guard: fans out when degenerate, absent when disabled") {
    val k = "spark.graft.scan.minPartitions"
    try {
      spark.conf.set(k, "2")
      val fanned = Tables.documents(spark, TestSpark.SF)
        .queryExecution.executedPlan.toString
      assert(fanned.contains("RoundRobinPartitioning(2)"),
        s"single-split local scan must fan out to the configured target:\n$fanned")
      spark.conf.set(k, "0")
      val bare = Tables.documents(spark, TestSpark.SF)
        .queryExecution.executedPlan.toString
      assert(!bare.contains("Exchange"),
        s"disabled guard must leave the scan bare:\n$bare")
    } finally spark.conf.set(k, "0") // suite-wide off (beforeAll contract)
  }

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, TestSpark.SF)
    df.queryExecution.executedPlan.toString
  }

  test("offline-boundary rows score ONCE: the ranked plan reads the cached scored frame") {
    // the CCNet bucket / curriculum / model-gate rows count the scored
    // frame and then prefix-scan it — without the cache the count, the
    // range-partition sampling and the scan each re-run the scoring
    // chain (two extra corpus scans at 100 TB)
    try {
      for (q <- Seq("pipeline_ccnet_buckets", "pipeline_curriculum_shards")) {
        val p = plan(q)
        assert(p.contains("InMemoryTableScan"),
          s"$q must read its scored frame from cache:\n${p.take(2000)}")
      }
    } finally Caches.releaseAll()
  }

  test("struct-emitting kernels evaluate ONCE per row (no per-field inlining)") {
    // DsirScore/UnigramStats emit a multi-field struct whose fields the
    // caller extracts in a second projection; if CollapseProject ever
    // inlined the kernel per extracted field, every row would pay the
    // tokenize+hash pass 2-3× — the regression this pins against
    try {
      for ((q, kernel) <- Seq("text_dsir_score" -> "dsirscore",
          "text_unigram_apply" -> "unigramstats")) {
        val p = plan(q).toLowerCase
        val n = kernel.r.findAllIn(p).length
        assert(n == 1, s"$q must evaluate $kernel exactly once, saw $n")
      }
    } finally Caches.releaseAll()
  }

  test("LM guard sizes are carried by the model, not recounted per score") {
    try {
      val docs = Tables.documents(spark, TestSpark.SF)
        .filter(org.apache.spark.sql.functions.col("doc_id") < 50)
      val m = graft.text.NgramLm.train(docs, "text")
      assert(m.headsRows == m.v,
        "the head relation IS the type relation — its size is V, free at train time")
      assert(m.qSeenRows == m.qSeen.count(),
        "memoized seen-bigram size must equal the relation count")
    } finally Caches.releaseAll()
  }

  test("filters are pushed into the parquet scan") {
    val p = plan("filter_predicate")
    assert(p.contains("PushedFilters: [") && p.contains("event_type"), p.take(2000))
  }

  test("column pruning reaches the scan (map_project reads 6 of 11 columns)") {
    val p = plan("map_project")
    assert(p.contains("ReadSchema") && !p.contains("l_returnflag"), p.take(2000))
  }

  test("small dimension join is broadcast") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("aggregation is partial -> final (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final HashAggregate")
  }

  test("pane-fed FlatFAT pre-aggregates per pane before the shuffle") {
    val p = plan("win_tb_sliding_ffat_paned").toLowerCase
    // the pane PLQ stage must split partial→final so the wide shuffle
    // moves map-side-combined pane summaries, never raw rows
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "expected map-side pane combine: " + p.take(2000))
    assert(p.contains("flatfatpartialwindows"),
      "expected the partials-fed ffat aggregate: " + p.take(2000))
    // the only Generate (explode) is the output unnest of the per-key
    // windows array — DOWNSTREAM of the aggregates, i.e. earlier in the
    // printed tree. Any generate deeper than the pane partial aggregate
    // would mean rows multiplied before the shuffle, the exact cost the
    // pane feed exists to avoid.
    val paneAgg = p.indexOf("partial_count")
    assert(paneAgg >= 0 && !p.substring(paneAgg).contains("generate"),
      "explode upstream of the pane pre-aggregate: " + p.take(2000))
  }

  test("interval join is a key-equi join, not a cartesian product") {
    val p = plan("interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(3000))
  }

  test("bucketed tables co-locate the join (no shuffle exchange)") {
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // the in-memory catalog forgets tables across JVMs but the files stay
    Seq("b_orders", "b_customer").foreach { t =>
      val d = new java.io.File(s"/tmp/graft-test-warehouse/$t")
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    Tables.orders(spark, TestSpark.SF).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    Tables.customer(spark, TestSpark.SF).write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    val j = spark.table("b_orders")
      .join(spark.table("b_customer").hint("merge"), col("o_custkey") === col("c_custkey"))
    val p = j.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(3000))
  }

  test("bucketed embedding near-dup plans a hash join on the bucket, not all-pairs") {
    val p = plan("dedup_embedding")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "LSH-bucketed near-dup must not plan an all-pairs join: " + p.take(3000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(3000))
  }

  test("semantic decontamination joins the benchmark probes by broadcast — the corpus never sort-merges") {
    val p = plan("pipeline_decontaminate_semantic")
    assert(p.contains("BroadcastHashJoin"),
      "the benchmark probe set must broadcast: " + p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must never pay a sort-merge shuffle: " + p.take(3000))
  }

  test("no declared query plans a nested-loop all-pairs join") {
    // the quadratic baselines (knnBruteForce, embeddingPairs) are
    // candidate-generator-wise test-only, and — r15 judge #1 — the ONE
    // deliberate quadratic left in the registry's orbit, the ANN
    // recall gates' exact ground truth, now lives in the persisted-
    // truth BUILD (ensureAnnTruth, priced in Bench's untimed setup
    // pass), not in any declared row's serving plan: the gate rows and
    // knn_config_recommend load the committed report/truth relations.
    // So the sweep is now UNCONDITIONAL — every declared batch plan
    // must be free of broadcast-NL/cartesian joins; the build-side
    // quadratic's pinned shape moves to the companion test below.
    // (dedup_minhash_recall's exact truth rides the gram-equi join —
    // zero-overlap pairs are below any positive τ — so it needs no
    // nested-loop join at all.)
    SparkEntry.queries.keys.filterNot(_.startsWith("stream_")).foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a broadcast nested-loop join")
    }
  }

  test("the recall gates' ground-truth BUILD is the named bounded quadratic: BNLJ with the corpus broadcast") {
    // the exact brute-force top-k is queries × corpus by definition —
    // the gate's semantics, not an optimizer accident. Its pinned shape:
    // the query side is the bounded sample, the corpus side BROADCASTS
    // (BNLJ BuildRight), never a CartesianProduct. This is the plan
    // ensureAnnTruth commits once per corpus; every recall gate and the
    // recommend row then serve the persisted rows.
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, TestSpark.SF)
    val p = graft.similarity.Similarity.knnBruteForce(
        emb.filter(col("vec_id") < 100), emb, "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      "the ground truth must broadcast the candidate side: " + p.take(3000))
    assert(!p.contains("CartesianProduct"),
      "the ground truth must never plan a cartesian product: " + p.take(3000))
  }

  test("IVF centroid assignment is one narrow corpus pass: no Exchange, no join") {
    val emb = Tables.embeddings(spark, TestSpark.SF)
    val p = graft.similarity.Similarity.ivfAssign(emb, "vec_id", "embedding", 16)
      .queryExecution.executedPlan.toString
    // centroids are plan literals (collected driver-side, ≤ k rows); the
    // r2 crossJoin+row_number form hash-shuffled the entire corpus here
    assert(!p.contains("Exchange"), "assignment must not shuffle the corpus: " + p.take(3000))
    assert(!p.contains("Join"), "assignment must not join: " + p.take(3000))
    assert(!p.contains("Window"), "assignment must not window: " + p.take(3000))
  }

  test("IVF nprobe cell probing is also exchange-free") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, TestSpark.SF)
    val cents = graft.similarity.Similarity.firstKCentroids(emb, "vec_id", "embedding", 8)
    // probe-side subplan only: the full knnIvf joins query cells to data
    // cells (the one documented hash shuffle of the scale path)
    val p = graft.similarity.Similarity.knnIvf(emb, "vec_id", "embedding", k = 3,
        numCentroids = 8, queryFilter = col("vec_id") < 10, nprobe = 3)
      .queryExecution.executedPlan.toString
    // exactly one Window operator — the final top-k rank; the r2 nprobe
    // branch added a second (probe row_number) plus a corpus-wide crossJoin.
    // ("Window \[" excludes WindowGroupLimit, Spark's rank-pushdown helper.)
    assert("Window \\[".r.findAllIn(p).size == 1,
      "nprobe probing must not add a window to the rank plan: " + p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "nprobe probing must not cross-join: " + p.take(3000))
  }

  test("FlatFAT windows aggregate partial -> final with one shuffle") {
    val p = plan("win_tb_sliding_ffat")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final ObjectHashAggregate: " + p.take(3000))
    // plans print parent-first: the explode (a parent, runs last) must sit
    // ABOVE the aggregates — i.e. per-window explode AFTER the shuffle,
    // never a per-input-row explode below the aggregation
    assert(p.indexOf("Generate") < p.indexOf("ObjectHashAggregate"),
      "explode must happen AFTER aggregation (post-shuffle), not per input row: " + p.take(3000))
  }

  test("two dot products in one projection survive codegen (no interpreter fallback)") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.dot
    // Every cosine re-rank projects >= 3 dots (qv·cv, qv·qv, cv·cv); with
    // hardcoded generated locals Janino rejects the stage ("Redefinition of
    // local variable i") and Spark silently interprets. Forbid the fallback
    // so a regression fails loudly instead of de-optimizing.
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = spark.range(4)
        .select(array(col("id").cast("double"), lit(2.0)).as("a"),
          array(lit(3.0), col("id").cast("double") + 1.0).as("b"))
        .select(col("a"), col("b"),
          (dot(col("a"), col("b")) /
            (sqrt(dot(col("a"), col("a"))) * sqrt(dot(col("b"), col("b"))))).as("cos"),
          dot(col("a"), col("b")).as("d"))
      val rows = df.collect()
      assert(rows.length == 4)
      val r1 = rows.find(_.getSeq[Double](0).head == 1.0).get
      assert(r1.getDouble(3) == 1.0 * 3.0 + 2.0 * 2.0)
      assert(math.abs(r1.getDouble(2) - r1.getDouble(3) /
        (math.sqrt(5.0) * math.sqrt(13.0))) < 1e-15)
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("as-of join plans one shuffle and no join node") {
    // the union + ordered-window carry must not degrade into a range
    // join (quadratic per hot key) — no join operator of any kind, and
    // exactly one hash exchange on the key for the window
    val p = plan("join_asof")
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the as-of carry itself shuffles once, on the key alone; the other
    // hash exchange in the query is the right side's (user, ts) pre-agg
    val keyOnly = """Exchange hashpartitioning\([^,]+, \d+\)""".r.findAllIn(p).size
    assert(keyOnly == 1, s"expected 1 key-only hash exchange, got $keyOnly:\n" + p.take(3000))
    // the generalized form (composite key + tolerance) must keep the
    // no-join-node property — the tolerance is a per-row predicate, not a
    // range-join condition
    val pt = plan("join_asof_tol")
    assert(!pt.contains("Join"), pt.take(3000))
    assert(!pt.contains("CartesianProduct"), pt.take(3000))
  }

  test("stratified sample pre-trims per partition (WindowGroupLimit)") {
    // rank<=k must compile to the partial top-k push-down so the shuffle
    // moves O(labels*k) rows, not the corpus
    val p = plan("pipeline_stratified_sample")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("line dedup: keep-first pre-trims per partition, one digest exchange") {
    // the corpus-wide keep-first rule (row_number over the line digest,
    // filtered to 1) must compile to WindowGroupLimit — each map task
    // forwards at most one candidate per digest, so a hot duplicated line
    // ships #partitions rows, not its full multiplicity — and the dedup
    // itself must cost exactly ONE hash exchange (the digest); the only
    // other exchange is the document-id reassembly groupBy
    val p = plan("pipeline_line_dedup")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    val hashEx = """Exchange hashpartitioning""".r.findAllIn(p).size
    assert(hashEx == 2, s"expected digest + reassembly exchanges only, got $hashEx:\n" + p.take(3000))
  }

  test("token sharding's global cumsum is one range exchange + a narrow stateful projection") {
    // the two-pass PrefixSum (r17 form): range repartition + local sort +
    // the PartitionRunningSum kernel as a narrow projection. The previous
    // Window.partitionBy(spark_partition_id()) rendering forced a SECOND
    // full-data hash(__pid) Exchange (ClusteredDistribution unsatisfiable
    // by the range exchange) and destroyed the range order the final
    // orderBy needs — this pins both regressions out
    val p = plan("pipeline_token_shards")
    val pl = p.toLowerCase
    assert(pl.contains("partitionrunningsum"),
      "cumsum must be the narrow stateful kernel:\n" + p.take(3000))
    assert(!p.contains("Exchange SinglePartition"),
      "cumsum must never collapse to one task:\n" + p.take(3000))
    assert(pl.contains("rangepartitioning"),
      "cumsum must be fed by the range repartition:\n" + p.take(3000))
    assert(!pl.contains("hashpartitioning(__pid"),
      "the window-era second exchange is back:\n" + p.take(3000))
    assert(!p.contains("Window"),
      "cumsum must not plan a window operator:\n" + p.take(3000))
  }

  test("simhash signatures are one narrow pass (no exchange, no explode)") {
    // the native SimHashSig kernel replaces the x60 bit-explode + two
    // aggregation rounds; the signature never leaves its row
    val p = graft.dedup.Dedup.simhash(Tables.documents(spark, TestSpark.SF), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "simhash must not shuffle: " + p.take(2000))
    assert(!p.contains("Generate"), "simhash must not explode: " + p.take(2000))
  }

  test("chunking is one scan: tokenize + bounded explode, no exchange") {
    val p = graft.pipeline.Chunking.chunkDocs(
      Tables.documents(spark, TestSpark.SF), "doc_id", "text", 32, 24)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "chunking must not shuffle: " + p.take(2000))
    assert(p.contains("Generate"), "chunk explode missing: " + p.take(2000))
  }

  test("BPE apply is pure column work: no exchange, no aggregate, no generate") {
    // a frozen merge table applies as chained per-row rewrites — the
    // stream-safe shape (stream_text_bpe_apply rides this unchanged)
    val merges = Seq(graft.text.Bpe.Merge("a", "b", 1L),
      graft.text.Bpe.Merge(s"a${graft.text.Bpe.Joiner}b", "c", 1L))
    val p = Tables.documents(spark, TestSpark.SF)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.text.Bpe.applyMerges(
          org.apache.spark.sql.functions.col("text"), merges).as("s"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "BPE apply must not shuffle: " + p.take(2000))
    assert(!p.contains("Aggregate"), "BPE apply must not aggregate: " + p.take(2000))
    assert(!p.contains("Generate"), "BPE apply must not explode: " + p.take(2000))
  }

  test("decontamination probes a broadcast benchmark gram set (no corpus gram shuffle)") {
    // the CORPUS side must be one scan + explode streamed against the
    // broadcast benchmark grams — a corpus-side gram Exchange would
    // shuffle the whole corpus's grams, the exact cost the broadcast
    // shape avoids at 100 TB. (The benchmark subtree MAY shuffle: its
    // distinct() before the broadcast is over the tiny eval gram set.)
    // Plans print the streamed branch between the join node and its
    // BroadcastExchange, so that slice must contain the corpus explode
    // and no Exchange of any kind.
    val p = plan("pipeline_decontaminate")
    val join = p.indexOf("BroadcastHashJoin [gram")
    assert(join >= 0, "gram probe is not a broadcast hash join: " + p.take(3000))
    val bcast = p.indexOf("BroadcastExchange", join)
    assert(bcast > join, p.take(3000))
    val streamed = p.substring(join, bcast)
    assert(streamed.contains("Generate explode"),
      "corpus explode missing from the streamed side: " + streamed.take(2000))
    assert(!streamed.contains("Exchange"),
      "corpus gram side shuffled: " + streamed.take(2000))
  }

  test("suite-scale decontamination falls back to a shuffle-hash gram join (no broadcast)") {
    // an oversized benchmark gram set (forced via maxBroadcastGrams = 0,
    // the declared suite row's knob) must NOT broadcast — a 10⁸-gram
    // suite exceeds driver/executor broadcast budgets — and must NOT
    // sort the corpus side: the guarded fallback is a shuffle-hash join
    // with the grams as build side, one corpus gram Exchange and nothing
    // else
    val p = plan("pipeline_decontaminate_suite")
    assert(!p.contains("BroadcastHashJoin [gram"),
      "oversized gram set still broadcast: " + p.take(3000))
    assert(p.contains("ShuffledHashJoin [gram"),
      "expected shuffle-hash gram probe: " + p.take(3000))
    assert(!p.contains("SortMergeJoin [gram"),
      "corpus side must not be sorted for the gram probe: " + p.take(3000))
    // join strategy must be result-invisible: the fallback row equals the
    // broadcast-path row value-for-value (the shared oracle re-checks
    // this against DuckDB at the driver)
    val bcast = SparkEntry.queries("pipeline_decontaminate")(spark, TestSpark.SF)
      .collect().map(_.toSeq).toSeq
    val fallback = SparkEntry.queries("pipeline_decontaminate_suite")(spark, TestSpark.SF)
      .collect().map(_.toSeq).toSeq
    assert(bcast == fallback, "join strategy changed the decontamination result")
  }

  test("df-score broadcasts a small vocabulary; the wide twin falls back to shuffle-hash") {
    // natural-language vocabulary (tiny here) → broadcast probe, corpus
    // side never shuffled on the token
    val p = plan("text_df_score")
    assert(p.contains("BroadcastHashJoin [token"),
      "small vocabulary should broadcast: " + p.take(3000))
    // adversarial vocabulary (forced via maxBroadcastVocab = 0, the
    // declared wide row's knob) must NOT broadcast and must NOT sort the
    // exploded corpus side
    val w = plan("text_df_score_wide")
    assert(!w.contains("BroadcastHashJoin [token"),
      "oversized vocabulary still broadcast: " + w.take(3000))
    assert(w.contains("ShuffledHashJoin [token"),
      "expected shuffle-hash vocabulary probe: " + w.take(3000))
    assert(!w.contains("SortMergeJoin [token"),
      "corpus side must not be sorted for the vocabulary probe: " + w.take(3000))
    // join strategy must be result-invisible (the shared oracle re-checks
    // this against DuckDB at the driver)
    val bcast = SparkEntry.queries("text_df_score")(spark, TestSpark.SF)
      .collect().map(_.toSeq).toSeq
    val fallback = SparkEntry.queries("text_df_score_wide")(spark, TestSpark.SF)
      .collect().map(_.toSeq).toSeq
    assert(bcast == fallback, "join strategy changed the df-score result")
  }

  test("span dedup plans no pair join: both joins are gram/id equi-joins") {
    // the suffix-span rule factors through a per-span min — a candidate
    // PAIR join (a_id × b_id on the shared span) would be quadratic in a
    // boilerplate span's document frequency; the declared plan must keep
    // every join an equi-join on the span or the doc id, with the span
    // side pre-aggregated (partial -> final min)
    val p = plan("dedup_span_exact")
    assert(!p.toLowerCase.contains("cartesian") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("partial_min") || p.contains("min#"),
      "per-span min should pre-aggregate map-side: " + p.take(3000))
  }

  test("span scrubbing plans no pair join and pre-aggregates the span min") {
    // same linearity contract as dedup_span_exact: the coverage
    // computation must stay span/id equi-joins with a map-side-partial
    // min over the span index — a doc-pair join on a shared span would
    // be quadratic in a boilerplate span's document frequency
    val p = plan("dedup_span_scrub")
    assert(!p.toLowerCase.contains("cartesian") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("partial_min") || p.contains("min#"),
      "per-span min should pre-aggregate map-side: " + p.take(3000))
  }

  test("DSIR scoring is zero-shuffle: no Exchange, no Join in the scoring stage") {
    // fit pays its one bucket-count Exchange; SCORING must stay a pure
    // scan — the model rides as a plan-literal array, the fold is per-row
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.SF)
    val m = graft.text.Dsir.fit(docs, "text", pmod(col("doc_id"), lit(7)) === 0)
    val p = graft.text.Dsir.score(docs, "doc_id", "text", m)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "DSIR scoring should be a single scan: " + p.take(3000))
  }

  test("classifier streaming scorer is zero-shuffle; batch margin fold joins nothing") {
    import org.apache.spark.sql.functions._
    val qc = graft.text.QualityClassifier
    val docs = Tables.documents(spark, TestSpark.SF)
    val feats = qc.features(docs, "doc_id", "text",
      (pmod(col("doc_id"), lit(6)) === 0).cast("int"))
    val m = qc.train(feats)
    val p = qc.scorePresenceFold(docs, "doc_id", "text", m)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "presence-fold scoring should be a single scan: " + p.take(3000))
  }

  test("classifier feature build pays exactly one Exchange (in-buffer dedup)") {
    import org.apache.spark.sql.functions._
    val qc = graft.text.QualityClassifier
    val p = qc.features(Tables.documents(spark, TestSpark.SF), "doc_id", "text",
      (pmod(col("doc_id"), lit(6)) === 0).cast("int"))
      .queryExecution.executedPlan.toString
    // collect_set dedups inside the aggregation buffer; a distinct() +
    // groupBy rendering would show two exchanges of the exploded stream
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, // one for the agg + at most one for the left join back
      s"feature build should shuffle once (+ join), saw $exchanges: " + p.take(3000))
  }

  test("LM model probe broadcasts; the wide twin falls back without sorting the corpus") {
    val p = plan("text_lm_score")
    assert(p.contains("BroadcastHashJoin [bigram"),
      "small model should broadcast: " + p.take(3000))
    val w = plan("text_lm_score_wide")
    assert(!w.contains("BroadcastHashJoin [bigram"),
      "oversized model still broadcast: " + w.take(3000))
    assert(w.contains("ShuffledHashJoin [bigram"),
      "expected shuffle-hash model probe: " + w.take(3000))
    assert(!w.contains("SortMergeJoin [bigram"),
      "corpus side must not be sorted for the model probe: " + w.take(3000))
  }

  test("heavy hitters plans no join: sketch pass + literal-filtered exact pass") {
    // the candidate filter is a plan-literal isin — the exact pass must
    // not join the candidate set, and the only aggregations are the
    // token-keyed exact count (partial → final)
    val p = plan("text_heavy_hitters")
    assert(!p.contains("Join"),
      "candidate verification should be literal-filtered, not joined: " + p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final exact count: " + p.take(3000))
  }

  test("Moore-Lewis dual probe broadcasts all four model relations, one corpus scan") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.SF)
    val mIn = graft.text.NgramLm.train(
      docs.filter(pmod(col("doc_id"), lit(10)) === 0), "text")
    val mGen = graft.text.NgramLm.train(
      docs.filter(pmod(col("doc_id"), lit(4)) === 1), "text")
    val p = graft.text.NgramLm.scoreContrast(docs, "doc_id", "text", mIn, mGen)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "both models' qSeen+heads must broadcast: " + p.take(3000))
    // the doc_id-keyed keep-every-doc join may sort; the MODEL probes
    // (bigram-keyed) must not
    assert(!p.contains("SortMergeJoin [bigram"),
      "the corpus must never be sorted for a model probe: " + p.take(3000))
    graft.Caches.releaseAll()
  }

  test("PCA projection is zero-shuffle: no Exchange, no Join in the scoring stage") {
    // the Gram pass pays its one aggregation; SCORING against the
    // plan-literal direction must stay a pure scan
    val emb = Tables.embeddings(spark, TestSpark.SF)
    val u = Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
    val p = graft.similarity.Similarity
      .pcaProject(emb, "vec_id", "embedding", u)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "PCA scoring should be a single scan: " + p.take(3000))
  }
}
