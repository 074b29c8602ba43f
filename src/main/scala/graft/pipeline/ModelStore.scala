package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.Commit

/** Durable store for TRAINED ARTIFACTS — classifier weights, LM count
  * tables, BPE merge lists, IVF centroids, threshold/boundary scalars:
  * everything a serving pipeline needs so an ingest deployment can LOAD
  * last night's model instead of retraining inline (the production gap
  * the serving twins had: every one derived its offline half in-plan).
  *
  * Layout — one GENERATION per save, never overwritten in place:
  * {{{
  *   <root>/gen=<k>/<name>/part-*.parquet   one parquet dir per relation
  *   <root>/gen=<k>/meta_params/            (k, v) string params relation
  *   <root>/LATEST                          the committed generation id
  *   <root>/_staging-<uuid>/                per-save scratch
  * }}}
  * Params ride as a tiny parquet relation rather than a JSON file: no
  * hand-rolled parsing, and doubles/longs round-trip exactly through the
  * same codec as every other relation (a double is stored via
  * `java.lang.Double.toString`, whose parse round-trip is exact by spec).
  *
  * Commit protocol — the store's own policy; every step that makes bytes
  * durable or visible is [[graft.Commit]]'s:
  *  1. everything (relations + params) writes under a PER-SAVE staging
  *     directory (`_staging-<uuid>` — two concurrent saves can never
  *     touch each other's scratch);
  *  2. the generation id is CLAIMED by atomically creating
  *     `.gen-<k>.claim` with overwrite=false (create-fails-if-exists is
  *     atomic on HDFS-semantics filesystems, where a directory rename is
  *     not a usable CAS); a saver that loses the claim re-scans, bumps k
  *     and retries, so concurrent savers serialize into distinct
  *     generations. Claims persist until their generation prunes —
  *     deleting one early would let a racer with a stale scan re-claim a
  *     committed id. Then [[graft.Commit.publishDir]] promotes staging
  *     to `gen=<k>` (a generation directory that exists is complete);
  *  3. the LATEST pointer is one [[graft.Commit.writeFile]]. (Two savers
  *     flipping the pointer concurrently settle on whichever rename lands
  *     last — both targets are complete generations.)
  * Crash windows: at [[graft.Commit.Point.Staged]] LATEST is untouched,
  * readers serve the previous generation, and the orphan scrubs once
  * idle past [[StagingTtlMs]] (age-gated so an ACTIVE concurrent save's
  * staging survives); at [[graft.Commit.Point.Published]] the same (the
  * complete-but-unpointed generation is simply superseded); inside the
  * pointer write, [[latestGen]] reads the old pointer or rolls forward
  * from the complete tmp. Every window lands on a loadable store
  * (ModelStoreSpec, CommitSpec).
  *
  * Readers pin a generation: [[latestGen]] once, then load every
  * relation from that generation — a concurrent save can commit a new
  * generation mid-read without tearing the reader (generations are
  * immutable; pruning retains `keep` generations so a reader holding the
  * previous pointer survives one full save cycle).
  *
  * Scale: relations are parquet — a 10⁹-row LM table loads as an
  * ordinary distributed scan (and broadcast-guards downstream exactly
  * like a freshly trained one); only the pointer and params are
  * driver-sized.
  */
object ModelStore {

  val LatestFile = "LATEST"
  val StagingPrefix = "_staging"

  /** Orphaned-staging scrub age: a `_staging-<uuid>` tree idle this long
    * is a crashed save's leftover and is deleted by the next save. The
    * gate is the staging directory's own modification time (bumped by
    * every direct-child relation write), so a save actively writing
    * relations keeps its staging alive. */
  val StagingTtlMs: Long = 60L * 60L * 1000L
  // no leading underscore: Spark's file listing treats `_`-prefixed
  // paths as hidden, which makes an underscore-named leaf readable only
  // through a fallback path (and WARN-noisy)
  val ParamsRel = "meta_params"

  /** The generation-id claim marker — see the commit protocol above. */
  private def claimPath(root: Path, gen: Long): Path =
    new Path(root, s".gen-$gen.claim")

  /** The next free generation id: one past every committed directory
    * (pointed or not). */
  private def nextGen(fs: FileSystem, root: Path): Long =
    Commit.numbered(fs, root, "gen=").lastOption.fold(0L)(_ + 1L)

  /** The generation the LATEST pointer commits. */
  def latestGen(spark: SparkSession, root: String): Option[Long] = {
    val latest = new Path(root, LatestFile)
    Commit.readFile(Commit.fs(spark, latest), latest)
      .flatMap(b => new String(b, UTF_8).trim.toLongOption)
  }

  /** [[save]] only if `root` has NO committed generation yet; otherwise
    * return the existing one untouched. This is the serve-path memo for
    * rows whose store content is a pure function of the root's identity
    * (the caller keys `root` by corpus + process — see the registries'
    * serveRoot): the first touch builds and commits, every later touch
    * — a bench re-measure, a second query sharing the index — is load
    * + probe only. `relations`/`params` are by-name so a hit never even
    * constructs the build plan. NOT for append/refresh flows, which
    * need explicit generation control.
    */
  def ensure(spark: SparkSession, root: String,
      relations: => Seq[(String, DataFrame)],
      params: => Map[String, String] = Map.empty): Long =
    latestGen(spark, root).getOrElse(save(spark, root, relations, params))

  /** Save one model version: all relations + params commit as one new
    * generation, the pointer flips atomically, generations beyond `keep`
    * prune. Returns the committed generation id. `at` is called at
    * [[graft.Commit.Point.Staged]] (staging fully written, before the
    * claim) and [[graft.Commit.Point.Published]] (between the generation
    * rename and the pointer write).
    */
  def save(spark: SparkSession, root: String,
      relations: Seq[(String, DataFrame)],
      params: Map[String, String] = Map.empty,
      keep: Int = 2,
      at: Commit.Point => Unit = Commit.NoHook,
      stagingTtlMs: Long = StagingTtlMs): Long = {
    require(keep >= 1, s"must retain at least one generation: $keep")
    require(!relations.exists(_._1 == ParamsRel),
      s"$ParamsRel is the reserved params relation name")
    val rootP = new Path(root)
    val fs = Commit.fs(spark, rootP)
    fs.mkdirs(rootP)
    // scrub ORPHANED staging trees (crashed saves) — age-gated, so a
    // concurrent save's live staging is never touched
    val now = System.currentTimeMillis()
    Option(fs.globStatus(new Path(rootP, s"$StagingPrefix-*"))).toSeq.flatten
      .filter(now - _.getModificationTime > stagingTtlMs)
      .foreach(s => fs.delete(s.getPath, true))
    val staging = new Path(rootP,
      s"$StagingPrefix-${java.util.UUID.randomUUID().toString}")
    relations.foreach { case (name, df) =>
      df.write.mode(SaveMode.Overwrite)
        .parquet(new Path(staging, name).toString)
    }
    import spark.implicits._
    params.toSeq.sortBy(_._1).toDF("k", "v")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(new Path(staging, ParamsRel).toString)
    // generation CAS: atomically claim the id (create-fails-if-exists);
    // a lost claim → re-scan, bump, retry into the next free slot
    def claim(g: Long, attempt: Int): Long =
      try { fs.create(claimPath(rootP, g), false).close(); g }
      catch {
        case _: java.io.IOException if attempt < 64 =>
          claim(math.max(g + 1L, nextGen(fs, rootP)), attempt + 1)
        case e: java.io.IOException =>
          fs.delete(staging, true)
          throw new IllegalStateException(
            s"generation claim failed after $attempt races under $root", e)
      }
    val candidate = nextGen(fs, rootP)
    at(Commit.Point.Staged)
    val gen = claim(candidate, 1)
    Commit.publishDir(fs, staging, new Path(rootP, s"gen=$gen"))
    at(Commit.Point.Published)
    Commit.writeFile(fs, new Path(rootP, LatestFile), gen.toString.getBytes(UTF_8))
    // retention: prune beyond `keep` generations (never the one just
    // committed — it is the newest); claims below the retained window —
    // pruned generations', and those of saves that crashed between claim
    // and publish — scrub too
    val floor = Commit.prune(fs, rootP, "gen=", "", keep).head
    Commit.numbered(fs, rootP, ".gen-", ".claim").filter(_ < floor)
      .foreach(g => fs.delete(claimPath(rootP, g), false))
    gen
  }

  private def pinnedGen(spark: SparkSession, root: String): Long =
    latestGen(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed model under $root"))

  /** Load one relation from the committed generation. */
  def loadRelation(spark: SparkSession, root: String, name: String): DataFrame =
    spark.read.parquet(s"$root/gen=${pinnedGen(spark, root)}/$name")

  /** Whether the committed generation carries relation `name` — for
    * maintenance flows whose output set depends on what the generation
    * was saved with (e.g. a PQ refresh re-encodes the optional `index`
    * relation only when the generation has one). */
  def hasRelation(spark: SparkSession, root: String, name: String): Boolean = {
    val p = new Path(s"$root/gen=${pinnedGen(spark, root)}/$name")
    Commit.fs(spark, p).exists(p)
  }

  /** Load the params map from the committed generation. */
  def loadParams(spark: SparkSession, root: String): Map[String, String] =
    loadRelation(spark, root, ParamsRel)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
}
