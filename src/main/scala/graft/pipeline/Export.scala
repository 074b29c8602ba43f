package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Commit

/** Training-artifact export — the last step of a curation run: write the
  * assembled examples as split/shard-partitioned parquet plus a manifest
  * the trainer (and the next incremental run) can trust without listing
  * or re-scanning the data.
  *
  * Layout: `<root>/split=<s>/shard_id=<k>/part-*.parquet` via Spark's
  * `partitionBy` — Hive-style directories, so a trainer reading one split
  * prunes everything else at the FILE level (partition pruning,
  * plan-asserted in spec), and a shard maps to a stable directory a data
  * loader can address directly. One shuffle-free write: `partitionBy`
  * routes rows by column value within each task, so the writer preserves
  * the upstream partitioning (repartition first if shard-directory file
  * counts matter more than avoiding the exchange).
  *
  * Manifest: `<root>/_graft_manifest/` — one parquet row per (split,
  * shard): row count + exact token sum, derived from the same DataFrame
  * and verified in spec against a re-scan of the written files. The
  * manifest is this store's commit marker: it is staged AFTER the data
  * in `_graft_manifest_tmp` and published whole through
  * [[graft.Commit.publishDir]], so a manifest that exists implies its
  * shards are complete. (Spark creates a write's target directory when
  * the job starts, so writing the manifest in place would leave an
  * existing but incomplete manifest after a crash.)
  */
object Export {

  val ManifestDir = "_graft_manifest"

  private def perShard(data: DataFrame, splitCol: String, shardCol: String,
      tokenCol: String): DataFrame =
    data.groupBy(col(splitCol), col(shardCol))
      .agg(count(lit(1)).as("n_rows"), sum(col(tokenCol)).as("n_tokens"))

  /** Stage `manifest` at `tmp`, then publish it at `target`. */
  private def publishManifest(manifest: DataFrame, tmp: Path, target: Path,
      at: Commit.Point => Unit): Unit = {
    manifest.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    at(Commit.Point.Staged)
    Commit.publishDir(Commit.fs(manifest.sparkSession, target), tmp, target)
  }

  /** Write `df` partitioned by (splitCol, shardCol) with a per-shard
    * manifest; returns the manifest as a DataFrame. `tokenCol` is the
    * exact-summable per-row token count the manifest totals. `at` is
    * called at [[graft.Commit.Point.Written]] (data written, manifest not
    * staged) and [[graft.Commit.Point.Staged]] (manifest staged, not
    * published). A rerun overwrites the whole tree.
    */
  def writeShards(df: DataFrame, root: String, splitCol: String,
      shardCol: String, tokenCol: String,
      at: Commit.Point => Unit = Commit.NoHook): DataFrame = {
    val data = graft.Caches.track(df)
    data.write.mode(SaveMode.Overwrite)
      .partitionBy(splitCol, shardCol)
      .parquet(root)
    val manifest = perShard(data, splitCol, shardCol, tokenCol)
    at(Commit.Point.Written)
    publishManifest(manifest, new Path(s"$root/${ManifestDir}_tmp"),
      new Path(root, ManifestDir), at)
    manifest
  }

  /** Streaming terminal stage — the batch writer's contract held PER
    * MICRO-BATCH: each trigger appends its rows to the same Hive-style
    * shard tree (with the batch id as a third partition level, so every
    * batch's files live in addressable `…/split=<s>/shard_id=<k>/
    * batch=<b>/` leaves) and then — only after the data is fully
    * written — commits a per-batch manifest at
    * `_graft_manifest/batch=<b>/`. The manifest is the commit marker:
    * two-phase-commit-lite per batch, so a reader trusting the manifest
    * never sees a half-written batch.
    *
    * Restart safety (exactly-once against the data tree): foreachBatch
    * replays the last uncommitted batch id after a crash, so the writer
    * is idempotent per batch — a batch whose manifest exists is skipped
    * whole; a batch whose manifest is missing first scrubs its own
    * batch-tagged data leaves (the partials of the crashed attempt —
    * addressable precisely BECAUSE the batch id is a partition level)
    * and rewrites. Append without the tag could not be made idempotent:
    * parquet part files get fresh UUID names per attempt, so a replay
    * would silently double the batch.
    *
    * `at` sees each batch's crash points with its batch id (see
    * [[writeShardsBatch]]).
    */
  def writeShardsIngest(stream: DataFrame, root: String, splitCol: String,
      shardCol: String, tokenCol: String, checkpoint: String,
      at: (Long, Commit.Point) => Unit = (_, _) => ()): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        writeShardsBatch(df, root, splitCol, shardCol, tokenCol, batchId,
          at(batchId, _))
      }
      .start()
    q.awaitTermination()
  }

  /** One micro-batch's idempotent shard append (see
    * [[writeShardsIngest]]). Public so a caller wiring its own
    * foreachBatch (different trigger, extra sinks) reuses the exact
    * commit protocol.
    *
    * The commit marker is ATOMIC: the manifest stages OUTSIDE the
    * manifest directory (`_graft_manifest_tmp/batch=<b>` — a sibling
    * inside it would poison the manifest reader's partition inference
    * with a conflicting partition-column name) and is published to
    * `_graft_manifest/batch=<b>` through [[graft.Commit.publishDir]]
    * only when complete, so a crash during the manifest write leaves
    * only the staging dir and the replay does not mistake the batch for
    * committed. `at` is called at [[graft.Commit.Point.Written]] (data
    * appended, manifest not staged) and [[graft.Commit.Point.Staged]]
    * (manifest staged, not published).
    */
  def writeShardsBatch(df: DataFrame, root: String, splitCol: String,
      shardCol: String, tokenCol: String, batchId: Long,
      at: Commit.Point => Unit = Commit.NoHook): Unit = {
    val mPath = new Path(s"$root/$ManifestDir/batch=$batchId")
    val tmpM = new Path(s"$root/${ManifestDir}_tmp/batch=$batchId")
    val fs = Commit.fs(df.sparkSession, mPath)
    if (fs.exists(mPath)) return // fully committed by a prior attempt
    // scrub the leftovers of a crashed attempt: its half-written manifest
    // temp dir plus exactly the three-level batch=<id> data leaves (the
    // two-level manifest path cannot match the glob)
    fs.delete(tmpM, true)
    Option(fs.globStatus(new Path(s"$root/*/*/batch=$batchId"))).toSeq.flatten
      .foreach(st => fs.delete(st.getPath, true))
    // the batch feeds the data write AND the manifest aggregation — one
    // persist, released before the next trigger
    val data = df.persist()
    try {
      data.withColumn("batch", lit(batchId))
        .write.mode(SaveMode.Append)
        .partitionBy(splitCol, shardCol, "batch")
        .parquet(root)
      val manifest = perShard(data, splitCol, shardCol, tokenCol)
      at(Commit.Point.Written)
      publishManifest(manifest, tmpM, mPath, at)
    } finally data.unpersist(blocking = false)
  }

  /** The ingest manifest: one row per (split, shard, batch) — only
    * COMMITTED batches appear (the manifest is the commit marker), so
    * aggregating it equals a re-scan of exactly the trustworthy data.
    */
  def readIngestManifest(spark: SparkSession,
      root: String): DataFrame =
    spark.read.parquet(s"$root/$ManifestDir")
      .withColumn("batch", col("batch").cast("long"))

  /** Read a split back through the partition-pruned path. */
  def readSplit(spark: SparkSession, root: String,
      split: String): DataFrame = {
    // the manifest directory is not Hive-partitioned data; read the
    // partitioned tree by its root and prune on the split column
    spark.read.option("basePath", root)
      .parquet(root + "/split=" + split)
  }

  def readManifest(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/$ManifestDir")

  /** COMPACTION — the maintenance pass a long-running ingest tree
    * needs: [[writeShardsIngest]] leaves one `batch=<b>` directory per
    * trigger per touched shard, so a year of five-minute triggers is
    * ~10⁵ leaf directories per shard and the trainer's read pays
    * per-file open overhead instead of sequential scan (the classic
    * small-file explosion). This rewrites every COMMITTED batch's rows
    * into ONE consolidated generation under `batch=<maxCommitted>` —
    * the tree stays a valid ingest tree (same layout, same manifest
    * protocol), so a resumed writer keeps appending after it and
    * compaction itself is re-runnable — and swaps it in only after
    * verifying it against the manifests.
    *
    * Protocol — offline (no live writer on `root`), crash-safe at every
    * step, and trust-preserving (a reader never sees a state the
    * manifests do not describe):
    *  1. roll forward/back any interrupted previous swap (see below);
    *  2. read the ingest manifest — COMMITTED batches only, so a
    *     crashed writer's partial leaves are never compacted in;
    *  3. read exactly those batch leaves and write them, re-tagged to
    *     the single generation batch id, into a sibling STAGING root;
    *  4. VERIFY: staged per-(split, shard) row counts must equal the
    *     per-batch manifests aggregated — exact integer equality, else
    *     abort with the original tree untouched (token sums transfer
    *     from the manifests they already describe; the staged manifest
    *     writes only AFTER the staged data, the writer's contract);
    *  5. swap: move root → `<root>.compact-backup`, publish staging →
    *     root, delete the backup. A crash between the two leaves a
    *     missing root plus a complete staging or backup — step 1 rolls
    *     FORWARD when the staged manifest exists (the verified new
    *     generation wins) and BACK otherwise, so every crash lands on
    *     a complete, manifest-consistent tree.
    * Every move and publish is [[graft.Commit]]'s. `at` is called at
    * [[graft.Commit.Point.Staged]] (verified, before the first move) and
    * [[graft.Commit.Point.Vacated]] (root moved aside, staging not yet
    * published). Returns the compacted manifest.
    */
  def compact(spark: SparkSession, root: String,
      splitCol: String, shardCol: String,
      at: Commit.Point => Unit = Commit.NoHook): DataFrame = {
    val (fs, rootP, staging, backup) = swapLayout(spark, root)
    recoverSwap(spark, root)
    // 2. the committed batches and their expected totals
    val manifest = readIngestManifest(spark, root)
    val expected = manifest.groupBy(col(splitCol), col(shardCol))
      .agg(sum("n_rows").as("n_rows"), sum("n_tokens").as("n_tokens"))
    val committed = manifest.select("batch").distinct()
      .collect().map(_.getLong(0)).toSet
    require(committed.nonEmpty, s"nothing committed under $root")
    val gen = committed.max
    // 3. consolidate exactly the committed leaves into one generation
    spark.read.option("basePath", root).parquet(root)
      .filter(col("batch").cast("long").isin(committed.toSeq: _*))
      .withColumn("batch", lit(gen))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(splitCol, shardCol, "batch")
      .parquet(staging.toString)
    // 4. verify staged row counts against the aggregated manifests
    val stagedCounts = spark.read.parquet(staging.toString)
      .groupBy(col(splitCol), col(shardCol)).agg(count(lit(1)).as("n_rows"))
    val mism = expected.as("e")
      .join(stagedCounts.as("s"), Seq(splitCol, shardCol), "full")
      .filter(col("e.n_rows").isNull || col("s.n_rows").isNull ||
        col("e.n_rows") =!= col("s.n_rows"))
      .count()
    require(mism == 0,
      s"compaction verify failed: $mism (split, shard) groups mismatch the manifests")
    expected.write.mode(SaveMode.Overwrite)
      .parquet(s"$staging/$ManifestDir/batch=$gen")
    at(Commit.Point.Staged)
    // 5. the swap
    Commit.move(fs, rootP, backup)
    at(Commit.Point.Vacated)
    Commit.publishDir(fs, staging, rootP)
    fs.delete(backup, true)
    readIngestManifest(spark, root)
  }

  /** (fs, root, staging, backup) of a compaction swap. */
  private def swapLayout(spark: SparkSession, root: String) = {
    val rootP = new Path(root)
    (Commit.fs(spark, rootP), rootP, new Path(root + ".compact-staging"),
      new Path(root + ".compact-backup"))
  }

  /** Step 1 of [[compact]]: finish or undo a swap that a crash cut
    * between its two renames (root missing), then discard a pre-swap
    * attempt's staging and a post-swap leftover backup. */
  private[graft] def recoverSwap(spark: SparkSession, root: String): Unit = {
    val (fs, rootP, staging, backup) = swapLayout(spark, root)
    if (!fs.exists(rootP)) {
      if (fs.exists(new Path(staging, ManifestDir))) Commit.publishDir(fs, staging, rootP)
      else if (fs.exists(backup)) Commit.move(fs, backup, rootP)
      else throw new IllegalStateException(s"nothing to compact: $root missing")
    }
    fs.delete(staging, true)
    fs.delete(backup, true)
  }
}
