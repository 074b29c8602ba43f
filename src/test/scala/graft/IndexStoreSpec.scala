package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.IndexStore
import graft.pipeline.ModelStore

/** Dedup-index persistence: Bloom bit-exact round trip, and span-index
  * APPEND ≡ rebuild-from-scratch (the keep-first monoid argument).
  */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-indexstore").toString + "/idx"

  test("Bloom filter round-trips byte-exactly through the codec") {
    import spark.implicits._
    val items = (1L to 1000L).map(i => s"doc$i")
    val df = items.toDF("dg")
    val bf = graft.dedup.Dedup.buildBloom(df,
      graft.functions.GraftFunctions.hash60(col("dg")), items.size.toLong, 0.01)
    val root = tmpRoot()
    IndexStore.saveBloom(spark, root, bf, df, items.size.toLong, 0.01)
    val loaded = IndexStore.loadBloom(spark, root)
    // identical bit array → identical answer on EVERY probe, member or not
    val probes = items ++ (1L to 2000L).map(i => s"other$i")
    probes.foreach { p =>
      val h = graft.functions.GraftFunctions.hash60Scala(p)
      assert(loaded.mightContainLong(h) == bf.mightContainLong(h),
        s"probe $p diverged after the round trip")
    }
    assert(ModelStore.loadParams(spark, root) ==
      Map("n" -> items.size.toString, "fpp" -> "0.01"))
    assert(ModelStore.loadRelation(spark, root, "digests").count() == items.size.toLong)
  }

  test("Bloom OR-merge at equal params ≡ a single build over the union") {
    import spark.implicits._
    val items = (1L to 2000L).map(i => s"d$i")
    val df = items.toDF("dg")
    val h = graft.functions.GraftFunctions.hash60(col("dg"))
    val n = items.size.toLong
    val whole = graft.dedup.Dedup.buildBloom(df, h, n, 0.01)
    val merged = graft.dedup.Dedup.buildBloom(
      df.filter(pmod(h, lit(2)) === 0), h, n, 0.01)
    merged.mergeInPlace(graft.dedup.Dedup.buildBloom(
      df.filter(pmod(h, lit(2)) === 1), h, n, 0.01))
    assert(java.util.Arrays.equals(IndexStore.bloomBytes(merged),
      IndexStore.bloomBytes(whole)),
      "disjoint-half OR-merge must reproduce the union build's bit array")
  }

  test("appendSpanIndex ≡ rebuilding the index over the union") {
    import spark.implicits._
    def idxOf(rows: Seq[(String, Long)]) =
      rows.toDF("gram", "doc_id").groupBy("gram")
        .agg(min(col("doc_id")).as("first_id"))
    // overlapping grams across the slices: the re-min must pick the
    // union-wide earliest owner, not the per-slice one
    val base = Seq(("a b c", 8L), ("c d e", 4L), ("x y z", 12L))
    val delta = Seq(("a b c", 2L), ("p q r", 6L))
    val root = tmpRoot()
    ModelStore.save(spark, root, Seq("span_index" -> idxOf(base)))
    IndexStore.appendSpanIndex(spark, root, idxOf(delta))
    val appended = ModelStore.loadRelation(spark, root, "span_index")
      .orderBy("gram").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val rebuilt = idxOf(base ++ delta)
      .orderBy("gram").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(appended == rebuilt)
    assert(appended.toMap.apply("a b c") == 2L,
      "the increment's earlier owner must win the re-min")
    // the append committed a NEW generation (the base survives retention)
    assert(graft.pipeline.ModelStore.latestGen(spark, root).contains(1L))
  }
}
