package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Library calls that persist intermediates must not leak blocks into the
  * session: Caches.releaseAll() after materialization returns the session
  * to its prior cache footprint; stream rows leave no memory-sink view or
  * running stream behind. Also pins the pointer-doubling convergence
  * of connectedComponents on a long chain (diameter >> round count).
  */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("minhash pipeline caches are released by Caches.releaseAll") {
    Caches.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Tables.documents(spark, TestSpark.SF)
    val n = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.6).count()
    assert(n >= 0)
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "pipeline should have tracked persisted intermediates")
    Caches.releaseAll()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  test("round-10 cachers (BPE states, scrub corpus, bloom digests) release cleanly") {
    Caches.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Tables.documents(spark, TestSpark.SF)
    // BPE training tracks one state per round plus the initial state
    graft.text.Bpe.train(docs, "doc_id", "text", rounds = 2)._2.count()
    // span scrubbing tracks the tokenized corpus
    Dedup.scrubSpans(docs, "doc_id", "text", k = 8).count()
    // bloom membership tracks the training digest relation
    Dedup.bloomMembership(docs, "doc_id", "text",
      docs.select(md5(col("text")).as("dg"))).count()
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "the cachers should have tracked intermediates")
    Caches.releaseAll()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  test("prefix-scan cache is released by Caches.releaseAll") {
    Caches.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ev = Tables.events(spark, TestSpark.SF)
      .select(col("event_id"), expr("ts div 1000").as("ts_us"),
        expr("CAST(round(value*100) AS BIGINT)").as("cents"))
    graft.operators.PrefixSum.runningSum(ev, "cents", Seq("ts_us", "event_id"), 7).count()
    Caches.releaseAll()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  test("stream rows leave no memory-sink view and no active stream behind") {
    def views = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream_")).toSeq
    Seq("stream_win_tb_tumbling", "stream_reduce_rolling",
        "stream_win_tb_sliding_ffat_append").foreach { name =>
      val fn = SparkEntry.queries(name)
      // both frames are read after both runs: a result outlives its view
      val first = try fn(spark, TestSpark.SF) finally Caches.releaseAll()
      val second = try fn(spark, TestSpark.SF) finally Caches.releaseAll()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      withClue(name) { assert(rows(first) == rows(second)) }
    }
    assert(views.isEmpty, s"memory-sink views left behind: $views")
    assert(spark.streams.active.isEmpty)
  }

  test("connected components converge on a chain far longer than the round budget") {
    import spark.implicits._
    // path graph 1-2-…-60: diameter 59; one-hop min-propagation needs 59
    // rounds, pointer doubling needs ~log2(60) ≈ 6 — must finish well
    // within maxIter=20 (and throw rather than return wrong reps if not)
    val ids = spark.createDataset(1L to 60L).toDF("id")
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val reps = Dedup.connectedComponents(ids, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps.size == 60 && reps.values.forall(_ == 1L))
  }
}
