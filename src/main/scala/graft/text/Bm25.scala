package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** BM25 retrieval scoring — rank corpus documents against a query set
  * (Robertson–Walker's Okapi weighting, the lexical-retrieval standard).
  * In a training-data pipeline this is the RETRIEVAL face of
  * decontamination and targeted selection: "which documents does this
  * benchmark question retrieve" catches paraphrased contamination that
  * exact n-gram overlap misses, and "retrieve the corpus for these seed
  * queries" is the lexical twin of DSIR-style targeted selection.
  *
  * score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
  * with the standard k1 = 1.2, b = 0.75 and
  * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1) (the non-negative variant).
  *
  * Determinism at the engine standard: the logarithm is the portable
  * [[graft.functions.PortableLog]] dag; N and avgdl derive once
  * driver-side as exact-integer→double divisions the oracle re-derives
  * in SQL (the temperature-weights pattern); every per-term contribution
  * is a fixed double dag QUANTIZED to int64 before the per-(query, doc)
  * sum — order-free, so the DuckDB oracle replays every score and rank
  * bit-identically.
  *
  * Scale shape: the query-term set is a POLICY dimension (a benchmark
  * suite's distinct terms — thousands, not corpus-scale), so it
  * broadcasts and the corpus pays ONE probe scan (token explode against
  * the broadcast set — no vocabulary-keyed Exchange); tf/df/idf are
  * aggregations of the MATCHED occurrences only, and the per-(query,
  * doc) aggregation moves matching occurrences, never the corpus. The
  * doc-length join is id-keyed on the matched docs. Contrast
  * [[CorpusStats.dfScore]]: that scores every doc against the whole
  * vocabulary (corpus profiling); this ranks docs against queries
  * (retrieval).
  */
object Bm25 {

  /** Top-k corpus documents per query by BM25. `queries` carries
    * (`qidCol`, `qtextCol`). Output: (query_id, rnk, `idCol`, score_q) —
    * score_q = Σ floor(10⁶·contribution), ties broken by ascending doc
    * id.
    */
  /** The BM25 model the serving path ships to the stream: query term
    * lists, per-term idf, and the corpus length statistics — all policy-
    * dimension small (a benchmark suite), all derived offline. */
  private[text] case class Bm25Model(queries: Seq[(Long, Seq[String])],
      idf: Map[String, Double], avgdl: Double)

  private def fit(corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String): Bm25Model = {
    import graft.functions.PortableLog
    val toks = graft.Caches.track(
      corpus.select(col(idCol), explode(tokens(col(textCol))).as("token")))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val row = dl.agg(count(lit(1)).as("n"), sum("dl").as("sumdl")).head()
    val n = row.getLong(0)
    require(n > 0, "BM25 needs a non-empty corpus")
    val qt = queries.select(col(qidCol).cast("long").as("query_id"),
      explode(tokens(col(qtextCol))).as("token")).distinct()
    val ql = qt.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2).sorted.toSeq }
      .toSeq.sortBy(_._1)
    val idf = toks.join(broadcast(qt.select("token").distinct()), "token")
      .groupBy(col("token")).agg(countDistinct(col(idCol)).as("df"))
      .withColumn("x",
        (lit(n.toDouble) - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0))
      .select(col("token"), PortableLog.plogCol(col("x")).as("idf"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Bm25Model(ql, idf, row.getLong(1).toDouble / n.toDouble)
  }

  /** BM25 AT INGESTION — the streaming decontamination monitor: the
    * model ([[Bm25Model]] — query term lists, idf, avgdl) derives
    * OFFLINE from the archived corpus, and each incoming document scores
    * against EVERY query as pure column work: the query set explodes
    * from a plan literal, tf(term, doc) = a filter-count over the doc's
    * own token array, idf looks up a literal map, and each contribution
    * is the SAME pinned quantized dag as the batch scorer, summed by the
    * same order-free fold. No state before the final aggregation; the
    * per-query top-k happens INSIDE the windowed aggregation over the
    * bounded scored set (sort by (−score, doc), slice k — a rank window
    * is not streamable, a bounded candidate set is). Streaming the
    * archive reproduces [[topk]] exactly — shared oracle; in production
    * the stream is the new crawl and high scorers are contamination
    * flags. Returns the pre-aggregation scored relation
    * (query_id, `idCol`, score_q) — the caller owns the windowed cut.
    */
  def streamScored(stream: DataFrame, archive: DataFrame, idCol: String,
      textCol: String, queries: DataFrame, qidCol: String,
      qtextCol: String): DataFrame = {
    val m = fit(archive, idCol, textCol, queries, qidCol, qtextCol)
    // the model rides as ONE nested Literal into the native
    // [[graft.functions.expressions.Bm25Scores]] kernel — a single plan
    // node holding DATA (typedLit), not the 10³-node expression tree the
    // first literal rendering re-planned per micro-batch, and not the
    // broadcast-join + HOF-fold rendering that replaced it (every lambda
    // CodegenFallback — the scoring pass dominated the row at ~9 s for
    // the sf0.1 stream; the kernel runs the same pinned dag compiled).
    // Query terms the archive never attests have NO idf entry — the
    // batch path drops them via its token join, so the model drops them
    // here too (they contribute zero either way; an unguarded m.idf(t)
    // would throw on the production case of an eval query with an
    // out-of-archive token)
    val modelLit = typedLit(m.queries.map { case (qid, terms) =>
      (qid, terms.flatMap(t => m.idf.get(t).map(idf => (t, idf))))
    })
    stream
      // a file-stream batch arrives in as few partitions as it has files
      // (often ONE) — without an explicit stateless shuffle here the
      // whole scoring projection would run single-threaded upstream of
      // the aggregation exchange; the shuffle spreads it over the
      // session's cores
      .select(col(idCol), col(textCol))
      .repartition(stream.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol),
        explode(graft.functions.expressions.Bm25Scores
          .of(col(textCol), modelLit, m.avgdl)).as("__qs"))
      .select(col("__qs.query_id").as("query_id"), col(idCol),
        col("__qs.score_q").as("score_q"))
  }

  def topk(corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int): DataFrame = {
    import graft.functions.PortableLog
    val toks = graft.Caches.track(
      corpus.select(col(idCol), explode(tokens(col(textCol))).as("token")))
    val dl = graft.Caches.track(
      toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl")))
    val row = dl.agg(count(lit(1)).as("n"), sum("dl").as("sumdl")).head()
    val n = row.getLong(0)
    require(n > 0, "BM25 needs a non-empty corpus")
    val avgdl = row.getLong(1).toDouble / n.toDouble
    val qt = graft.Caches.track(
      queries.select(col(qidCol).as("query_id"),
        explode(tokens(col(qtextCol))).as("token")).distinct())
    val mt = graft.Caches.track(
      toks.join(broadcast(qt.select("token").distinct()), "token"))
    val tf = mt.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val idf = mt.groupBy(col("token"))
      .agg(countDistinct(col(idCol)).as("df"))
      .withColumn("x",
        (lit(n.toDouble) - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0))
      .select(col("token"), PortableLog.plogCol(col("x")).as("idf"))
    val contrib = tf
      .join(broadcast(qt), "token")
      .join(broadcast(idf), "token")
      .join(dl, idCol)
      .withColumn("c", floor(lit(1.0e6) * (col("idf") *
        ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
            lit(0.75) * (col("dl").cast("double") / lit(avgdl)))))))
        .cast("long"))
    val agg = contrib.groupBy(col("query_id"), col(idCol))
      .agg(sum("c").as("score_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_q").desc, col(idCol).asc)
    agg.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"), col(idCol),
        col("score_q"))
  }
}
