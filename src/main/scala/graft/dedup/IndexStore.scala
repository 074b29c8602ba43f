package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.pipeline.ModelStore

/** Durable store for DEDUP-SIDE INDEXES — the static archive half every
  * incremental dedup twin probes: the k-token span index (span → min
  * owner), banded MinHash tables, df-capped inverted gram indexes,
  * SimHash band tables, chunk-digest representatives, and the Bloom
  * membership filter. The r12 ModelStore treatment stopped at the model
  * families; the `_loaded` dedup rows close that gap — the archive index
  * derives ONCE (the nightly reconciliation job), commits as a
  * [[graft.pipeline.ModelStore]] generation (atomic pointer, crash
  * windows, retention), and every ingest deployment LOADS it instead of
  * re-scanning the archive corpus per run.
  *
  * Index relations are ordinary ModelStore relations — callers save,
  * ensure and load them through [[graft.pipeline.ModelStore]] directly
  * (a 10¹⁰-row span index loads as a distributed scan and re-enters the
  * identical probe joins). What lives here is what ModelStore does not
  * know: the Bloom codec (bit array + (n, fpp) params — Spark's sketch
  * serializes via its own stable stream format) and the span index's
  * append algorithm.
  *
  * MAINTENANCE is where the index families differ:
  *  - the span index's keep-first rule (min owner per span) is an
  *    order-free commutative fold, so [[appendSpanIndex]] folds a day's
  *    increment into generation k by union + re-min — NO archive rescan,
  *    and the result is exactly the index rebuilt from scratch over the
  *    union (the appended row's oracle proves it);
  *  - band tables / gram indexes / digest reps / verify arrays are
  *    per-document rows, so an increment of DISJOINT documents appends
  *    by plain union (no re-aggregation at all);
  *  - the Bloom filter unions by bitwise OR ([[BloomFilter.mergeInPlace]])
  *    when both sides share (n, fpp) parameters.
  */
object IndexStore {

  /** [[saveBloom]] only if `root` holds no generation yet; `build`
    * (filter, digest relation, n) runs only on a miss. */
  def ensureBloom(spark: SparkSession, root: String,
      build: => (BloomFilter, DataFrame, Long), fpp: Double): Long =
    ModelStore.latestGen(spark, root).getOrElse {
      val (bf, digests, n) = build
      saveBloom(spark, root, bf, digests, n, fpp)
    }

  /** Fold a day's span increment into the committed generation: union +
    * re-min per span — the keep-first representative is a commutative
    * monoid, so append(gen k, delta) == rebuild(archive ∪ delta) by
    * value, at the cost of one delta-sized aggregation instead of an
    * archive rescan. Commits generation k+1; returns its id. The delta
    * must cover documents DISJOINT from the archive (the incremental
    * family's standing contract). */
  def appendSpanIndex(spark: SparkSession, root: String,
      delta: DataFrame, relName: String = "span_index"): Long =
    ModelStore.save(spark, root, Seq(relName ->
      ModelStore.loadRelation(spark, root, relName).unionByName(delta)
        .groupBy("gram").agg(min(col("first_id")).as("first_id"))))

  // ---- Bloom codec: Spark's sketch has a stable stream format ----

  def bloomBytes(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  def bloomFromBytes(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))

  /** Persist a Bloom membership index: the filter's bits as ONE binary
    * row plus the exact digest relation the verify join needs (the
    * filter prunes, the join proves — the family's exactness contract),
    * with (n, fpp) as params so a future increment can rebuild or
    * OR-merge at identical parameters. */
  def saveBloom(spark: SparkSession, root: String, bf: BloomFilter,
      digests: DataFrame, n: Long, fpp: Double): Long = {
    import spark.implicits._
    ModelStore.save(spark, root,
      Seq("digests" -> digests,
        "bloom" -> Seq(bloomBytes(bf)).toDF("bits").coalesce(1)),
      Map("n" -> n.toString, "fpp" -> fpp.toString))
  }

  def loadBloom(spark: SparkSession, root: String): BloomFilter =
    bloomFromBytes(ModelStore.loadRelation(spark, root, "bloom")
      .head().getAs[Array[Byte]](0))
}
