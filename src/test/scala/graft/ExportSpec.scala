package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Export, Mixing}

/** Training-artifact export: layout, manifest-vs-data agreement, and
  * split-level partition pruning on the read path.
  */
class ExportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-export").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def shards = {
    // a small end-to-end tail: split bucket + token-budget shard per doc
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id"), size(graft.functions.GraftFunctions.tokens(col("text")))
        .as("n_tokens"))
    graft.operators.PrefixSum.runningSum(
        Mixing.hashSplit(docs, "doc_id", Seq("train" -> 90, "val" -> 10)),
        "n_tokens", Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("split"),
        expr("(running_n_tokens - n_tokens) div 2000").as("shard_id"))
  }

  test("round-trip: written shards read back value-identical; manifest agrees") {
    val root = tmpDir()
    val manifest = Export.writeShards(shards, root, "split", "shard_id", "n_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // partition-directory values read back type-inferred (shard_id →
    // int); normalize to the written types before comparing
    val back = spark.read.parquet(root)
      .select(col("doc_id"), col("n_tokens"), col("split"),
        col("shard_id").cast("long").as("shard_id"))
    assert(back.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
      shards.select("doc_id", "n_tokens", "split", "shard_id")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq)
    // manifest totals equal a re-scan of the written files
    val rescanned = back.groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_rows"), sum(col("n_tokens")).as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(manifest == rescanned)
    assert(manifest.keySet.map(_._1) == Set("train", "val"))
  }

  test("batch writer: a crash at the manifest publish leaves no manifest; a rerun equals the uncrashed write") {
    // Spark creates a write's target directory at job start, so a manifest
    // written in place would exist, incomplete, after this crash
    def readBack(root: String) = (
      spark.read.parquet(root).orderBy("doc_id").collect().map(_.toSeq).toSeq,
      Export.readManifest(spark, root).orderBy("split", "shard_id")
        .collect().map(_.toSeq).toSeq)
    val rootA = tmpDir(); val rootB = tmpDir()
    Export.writeShards(shards, rootA, "split", "shard_id", "n_tokens")
    intercept[RuntimeException] {
      Export.writeShards(shards, rootB, "split", "shard_id", "n_tokens",
        at = p => if (p == Commit.Point.Staged)
          throw new RuntimeException("injected crash at the manifest publish"))
    }
    val fs = new org.apache.hadoop.fs.Path(rootB)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(rootB, Export.ManifestDir)),
      "no manifest may be visible before its publish")
    Export.writeShards(shards, rootB, "split", "shard_id", "n_tokens")
    assert(readBack(rootB) == readBack(rootA), "rerun must equal the uncrashed write")
  }

  test("ingest writer: crash between data and manifest replays idempotently") {
    // the assembled shards staged as FOUR files → four micro-batches
    // (maxFilesPerTrigger=1); a control run and a crash-resume run must
    // end byte-identical, with the manifest agreeing with a re-scan
    val staging = tmpDir()
    shards.repartition(4).write.mode("overwrite").parquet(staging)
    val schema = spark.read.parquet(staging).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staging)
    def readBack(root: String) = spark.read.parquet(root)
      .select(col("doc_id"), col("n_tokens"), col("split"),
        col("shard_id").cast("long").as("shard_id"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

    val rootA = tmpDir(); val rootB = tmpDir()
    Export.writeShardsIngest(stream, rootA, "split", "shard_id", "n_tokens",
      checkpoint = tmpDir() + "/ckpt")

    // crash run: fail once in the commit window of the SECOND batch —
    // after its data is on disk, before its manifest exists
    val ckptB = tmpDir() + "/ckpt"
    var armed = true
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Export.writeShardsIngest(stream, rootB, "split", "shard_id", "n_tokens",
        checkpoint = ckptB,
        at = (id, p) => if (id == 1 && p == Commit.Point.Written && armed) {
          armed = false
          throw new RuntimeException("injected crash in the commit window")
        })
    }
    assert(crashed.getMessage.contains("injected crash") ||
      crashed.getCause.getMessage.contains("injected crash"))
    // mid-crash state: batch 0 committed, batch 1 data ORPHANED (present
    // in the tree, absent from the manifest) — the reader-trust contract
    val committed = Export.readIngestManifest(spark, rootB)
      .select("batch").distinct().collect().map(_.getLong(0)).toSet
    assert(committed == Set(0L), s"only batch 0 may be committed: $committed")
    val onDisk = spark.read.parquet(rootB)
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(onDisk == Set(0L, 1L), s"batch 1 partials must be on disk: $onDisk")

    // resume from the same checkpoint: batch 1 replays (scrub + rewrite),
    // batches 2..3 complete; result ≡ the uninterrupted control run
    Export.writeShardsIngest(stream, rootB, "split", "shard_id", "n_tokens",
      checkpoint = ckptB)
    assert(readBack(rootB) == readBack(rootA), "resume must equal control")
    assert(readBack(rootA) ==
      shards.select("doc_id", "n_tokens", "split", "shard_id")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq)
    // manifest ≡ independent re-scan of the data tree, for both runs
    for (root <- Seq(rootA, rootB)) {
      // manifest carries shard_id as written (long); the data-tree
      // re-scan infers the partition dir as int — normalize both
      val manifest = Export.readIngestManifest(spark, root)
        .select(col("split"), col("shard_id").cast("long").as("shard_id"),
          col("n_rows"), col("n_tokens"))
        .groupBy("split", "shard_id")
        .agg(sum("n_rows").as("n_rows"), sum("n_tokens").as("n_tokens"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val rescan = spark.read.parquet(root)
        .select(col("split"), col("shard_id").cast("long").as("shard_id"),
          col("n_tokens"))
        .groupBy("split", "shard_id")
        .agg(count(lit(1)).as("n_rows"), sum("n_tokens").as("n_tokens"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(manifest == rescan, s"manifest/data divergence under $root")
    }
  }

  test("ingest writer: crash AFTER the manifest write, before the marker rename, replays idempotently") {
    // the window the directory-existence marker got wrong: the manifest
    // parquet is fully (or partially) on disk in the hidden temp dir but
    // the atomic rename has not happened — a replay must treat the batch
    // as UNCOMMITTED (scrub + rewrite), not return early and orphan it
    val staging = tmpDir()
    shards.repartition(4).write.mode("overwrite").parquet(staging)
    val schema = spark.read.parquet(staging).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staging)
    def readBack(root: String) = spark.read.parquet(root)
      .select(col("doc_id"), col("n_tokens"), col("split"),
        col("shard_id").cast("long").as("shard_id"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

    val rootA = tmpDir(); val rootB = tmpDir()
    Export.writeShardsIngest(stream, rootA, "split", "shard_id", "n_tokens",
      checkpoint = tmpDir() + "/ckpt")

    val ckptB = tmpDir() + "/ckpt"
    var armed = true
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Export.writeShardsIngest(stream, rootB, "split", "shard_id", "n_tokens",
        checkpoint = ckptB,
        at = (id, p) => if (id == 1 && p == Commit.Point.Staged && armed) {
          armed = false
          throw new RuntimeException("injected crash before the marker rename")
        })
    }
    assert(crashed.getMessage.contains("injected crash") ||
      crashed.getCause.getMessage.contains("injected crash"))
    // mid-crash state: the temp manifest exists on disk, yet the batch
    // must read as UNCOMMITTED — the atomic-marker contract
    val fs = new org.apache.hadoop.fs.Path(rootB)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$rootB/${Export.ManifestDir}_tmp/batch=1")),
      "the crash must land with the temp manifest present")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$rootB/${Export.ManifestDir}/batch=1")),
      "the marker must not exist before the rename")
    val committed = Export.readIngestManifest(spark, rootB)
      .select("batch").distinct().collect().map(_.getLong(0)).toSet
    assert(committed == Set(0L),
      s"only batch 0 may read as committed (temp dirs are hidden): $committed")

    // resume: batch 1 replays whole; result ≡ the uninterrupted control
    Export.writeShardsIngest(stream, rootB, "split", "shard_id", "n_tokens",
      checkpoint = ckptB)
    assert(readBack(rootB) == readBack(rootA), "resume must equal control")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$rootB/${Export.ManifestDir}_tmp/batch=1")),
      "the replay must scrub the stale temp manifest")
  }

  test("reading one split prunes the other at the scan") {
    val root = tmpDir()
    Export.writeShards(shards, root, "split", "shard_id", "n_tokens")
    val split = Export.readSplit(spark, root, "train")
    val want = shards.filter(col("split") === "train").count()
    assert(split.count() == want)
    // file-level pruning: the scanned files all live under split=train
    val files = split.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/split=train/")),
      s"scan escaped the split directory: ${files.take(3).mkString(", ")}")
  }

  test("compaction: batch leaves consolidate under the manifests' watch; every crash window lands complete") {
    // a 4-batch ingest tree (one batch=<b> leaf set per trigger)
    val staging = tmpDir()
    shards.repartition(4).write.mode("overwrite").parquet(staging)
    val schema = spark.read.parquet(staging).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staging)
    val root = tmpDir() + "/tree"
    Export.writeShardsIngest(stream, root, "split", "shard_id", "n_tokens",
      checkpoint = tmpDir() + "/ckpt")
    def readData(r: String) = spark.read.parquet(r)
      .select(col("doc_id"), col("n_tokens"), col("split"),
        col("shard_id").cast("long").as("shard_id"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    def manifestAgg(r: String) = Export.readIngestManifest(spark, r)
      .select(col("split"), col("shard_id").cast("long").as("shard_id"),
        col("n_rows"), col("n_tokens"))
      .groupBy("split", "shard_id")
      .agg(sum("n_rows").as("n_rows"), sum("n_tokens").as("n_tokens"))
      .collect().map(r0 => (r0.getString(0), r0.getLong(1)) ->
        (r0.getLong(2), r0.getLong(3))).toMap
    def leafDirs(r: String): Int = {
      val fs = new org.apache.hadoop.fs.Path(r)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val st = fs.globStatus(new org.apache.hadoop.fs.Path(s"$r/*/*/batch=*"))
      if (st == null) 0 else st.length
    }
    val before = readData(root)
    val beforeManifest = manifestAgg(root)
    val beforeLeaves = leafDirs(root)
    assert(beforeLeaves > beforeManifest.size,
      "the ingest tree must actually be fragmented for this test to bite")

    // crash BEFORE the swap: the original tree is untouched
    intercept[RuntimeException] {
      Export.compact(spark, root, "split", "shard_id",
        at = p => if (p == Commit.Point.Staged) throw new RuntimeException("injected pre-swap crash"))
    }
    assert(readData(root) == before, "pre-swap crash must leave root untouched")
    assert(manifestAgg(root) == beforeManifest)

    // crash BETWEEN the renames: root is momentarily gone, but the next
    // compact rolls the verified staging FORWARD and completes
    intercept[RuntimeException] {
      Export.compact(spark, root, "split", "shard_id",
        at = p => if (p == Commit.Point.Vacated) throw new RuntimeException("injected mid-swap crash"))
    }
    Export.compact(spark, root, "split", "shard_id")
    assert(readData(root) == before, "rolled-forward tree must hold the data")
    assert(manifestAgg(root) == beforeManifest,
      "compacted manifest must equal the per-batch manifests aggregated")
    assert(leafDirs(root) == manifestAgg(root).size,
      "compaction must leave ONE generation leaf per (split, shard)")

    // an interrupted swap with NO complete staging rolls BACK: fake the
    // crash state by renaming root away
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.rename(new org.apache.hadoop.fs.Path(root),
      new org.apache.hadoop.fs.Path(root + ".compact-backup")))
    Export.compact(spark, root, "split", "shard_id")
    assert(readData(root) == before, "rolled-back tree must hold the data")
    assert(manifestAgg(root) == beforeManifest)
  }
}
