package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Commit.Point
import graft.pipeline.{Export, ModelStore}

/** Every crash window of every store that publishes through [[Commit]].
  * For each `Commit.Point` value, every protocol that passes it is
  * crashed there: the store must still load and equal either the state
  * before the call or the uncrashed result, and a rerun must end equal
  * to the uncrashed result. A point that no protocol passes fails its
  * case. The small-file write's own windows are laid down by hand.
  */
class CommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private class Injected extends RuntimeException("injected crash")

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-commit").toString + "/store"

  private def fsOf(p: Path) = Commit.fs(spark, p)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `n` export rows from doc id `from`: two splits, three shards. */
  private def docs(from: Long, n: Int): DataFrame =
    spark.range(from, from + n).select(col("id").as("doc_id"),
      (col("id") % 7).as("n_tokens"),
      when(col("id") % 5 === 0, "val").otherwise("train").as("split"),
      (col("id") % 3).as("shard_id"))

  /** What a reader of an ingest tree trusts: the manifests, and the data
    * of exactly the batches they commit. */
  private def ingestState(root: String): Option[Any] = {
    val m = Export.readIngestManifest(spark, root)
    val committed = m.select("batch").distinct().collect().map(_.getLong(0)).toSeq
    val data = spark.read.parquet(root)
      .select(col("doc_id"), col("n_tokens"), col("split"),
        col("shard_id").cast("long").as("shard_id"), col("batch").cast("long").as("batch"))
      .filter(col("batch").isin(committed: _*))
    Some((rows(m), rows(data)))
  }

  /** One store protocol: `prepare` lays down the state before the call,
    * `run` is the call (passing `at` at each point it reaches), `state`
    * is what a reader loads (None: nothing committed). */
  private case class Protocol(name: String, prepare: String => Unit,
      run: (String, Point => Unit) => Unit, state: String => Option[Any])

  private def model(v: String): Seq[(String, DataFrame)] = {
    import spark.implicits._
    Seq("r" -> Seq((1L, v), (2L, v + v)).toDF("id", "s"))
  }

  private val protocols = Seq(
    Protocol("ModelStore.save",
      root => ModelStore.save(spark, root, model("old"), Map("v" -> "old")),
      (root, at) => ModelStore.save(spark, root, model("new"), Map("v" -> "new"),
        at = at, stagingTtlMs = 0L),
      root => ModelStore.latestGen(spark, root).map(_ =>
        (ModelStore.loadParams(spark, root),
          rows(ModelStore.loadRelation(spark, root, "r"))))),
    Protocol("Export.writeShardsBatch",
      root => Export.writeShardsBatch(docs(0, 30), root, "split", "shard_id",
        "n_tokens", 0L),
      (root, at) => Export.writeShardsBatch(docs(30, 30), root, "split",
        "shard_id", "n_tokens", 1L, at),
      ingestState),
    Protocol("Export.writeShards",
      _ => (),
      (root, at) => Export.writeShards(docs(0, 60), root, "split", "shard_id",
        "n_tokens", at),
      root => {
        val m = new Path(root, Export.ManifestDir)
        if (!fsOf(m).exists(m)) None
        else Some((rows(Export.readManifest(spark, root)), rows(spark.read.parquet(root))))
      }),
    Protocol("Export.compact",
      root => (0 to 2).foreach(b => Export.writeShardsBatch(docs(20L * b, 20),
        root, "split", "shard_id", "n_tokens", b.toLong)),
      (root, at) => Export.compact(spark, root, "split", "shard_id", at),
      // a compaction store loads after its swap recovery
      root => { Export.recoverSwap(spark, root); ingestState(root) })
  )

  /** Per protocol: the points an uncrashed run passes, the state before
    * it and the state after it. */
  private lazy val uncrashed: Map[String, (Seq[Point], Option[Any], Option[Any])] =
    protocols.map { p =>
      val root = tmpRoot()
      p.prepare(root)
      val before = p.state(root)
      val seen = Seq.newBuilder[Point]
      p.run(root, seen += _)
      p.name -> (seen.result(), before, p.state(root))
    }.toMap

  test("each protocol passes each point at most once and moves the store to a new state") {
    protocols.foreach { p =>
      val (points, before, after) = uncrashed(p.name)
      assert(points.nonEmpty && points.distinct == points, s"${p.name}: $points")
      assert(after.isDefined && after != before, s"${p.name} committed nothing new")
    }
  }

  Point.values.foreach { point =>
    test(s"crash at $point: the store loads the previous or the next state; a rerun ends at the next") {
      val passing = protocols.filter(p => uncrashed(p.name)._1.contains(point))
      assert(passing.nonEmpty, s"no protocol passes $point")
      passing.foreach { p =>
        val (_, before, after) = uncrashed(p.name)
        val root = tmpRoot()
        p.prepare(root)
        intercept[Injected](p.run(root, q => if (q == point) throw new Injected))
        val mid = p.state(root)
        assert(mid == before || mid == after,
          s"${p.name} crashed at $point loads neither state: $mid")
        p.run(root, Commit.NoHook)
        assert(p.state(root) == after, s"${p.name}: rerun after $point diverged")
      }
    }
  }

  test("small-file write: a partial tmp beside its target is ignored; a complete tmp rolls forward when the target is missing") {
    val dir = new Path(tmpRoot())
    val fs = fsOf(dir)
    val target = new Path(dir, "value.bin")
    val tmp = new Path(dir, ".value.tmp")
    def read() = Commit.readFile(fs, target).map(new String(_, UTF_8))
    def rawWrite(p: Path, s: String): Unit = {
      val out = fs.create(p, true)
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
    assert(read().isEmpty)
    Commit.writeFile(fs, target, "old".getBytes(UTF_8))
    // a rewrite that crashed mid-tmp: the target still answers
    rawWrite(tmp, "ne")
    assert(read().contains("old"))
    Commit.writeFile(fs, target, "new".getBytes(UTF_8))
    assert(read().contains("new") && !fs.exists(tmp))
    // the checksum sidecar moved with the file: a verifying read agrees
    val in = fs.open(target)
    try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    // the delete happened, the rename did not: the complete tmp wins
    rawWrite(tmp, "newer")
    fs.delete(target, false)
    assert(read().contains("newer"))
    Commit.writeFile(fs, target, "newest".getBytes(UTF_8))
    assert(read().contains("newest") && !fs.exists(tmp))
  }

  test("pointer windows: a partial tmp pointer never changes what ModelStore serves") {
    val root = tmpRoot()
    val fs = fsOf(new Path(root))
    val tmp = new Path(root, s".${ModelStore.LatestFile}.tmp")
    def garbage(): Unit = { val out = fs.create(tmp, true); out.close() }
    // the first pointer write crashed mid-tmp: nothing is committed
    intercept[Injected](ModelStore.save(spark, root, model("a"),
      at = p => if (p == Point.Published) throw new Injected))
    garbage()
    assert(ModelStore.latestGen(spark, root).isEmpty)
    // a later pointer write crashed mid-tmp: the old pointer serves
    val g = ModelStore.save(spark, root, model("b"), Map("v" -> "b"))
    garbage()
    assert(ModelStore.latestGen(spark, root).contains(g))
    assert(ModelStore.loadParams(spark, root)("v") == "b")
  }
}
