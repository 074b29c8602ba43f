package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** Checkpoint-RESTART recovery: the reference runtime has NO checkpointing
  * at all (/root/reference/README.md:36 — bounded queues, in-flight state
  * only), and SURVEY §2.8 claims Spark checkpointing as a strict upgrade.
  * This spec is the direct evidence for that claim on the emit-once
  * operators, whose correctness across a restart rests on the state the
  * checkpoint carries (pane partials + the `firedThroughUs` frontier,
  * interval archives + bucket timers, as-of pending/carry, per-window
  * buffers + end-of-window timers):
  *
  *  1. run a query over phase-A files only (several micro-batches via
  *     maxFilesPerTrigger=1; the watermark advances between batches, so
  *     some windows/pairs fire and their state is evicted mid-run);
  *  2. terminate (AvailableNow drains), then add phase-B files and start a
  *     NEW query instance from the SAME checkpoint;
  *  3. assert exactly-once resumption: run-1 ∪ run-2 output has no
  *     duplicates (nothing already fired re-fires) and equals an
  *     uninterrupted run over all files from a fresh checkpoint (nothing
  *     pending is lost — including cross-boundary join pairs that can only
  *     be produced from RESTORED phase-A archives).
  *
  * Both state store providers are exercised: the default HDFS-backed store
  * and RocksDB (the reference's `wf/persistent/` analog) — recovery reads
  * back through each provider's own snapshot/changelog format.
  *
  * Sink: `foreachBatch` into a driver-side buffer — the memory sink
  * refuses checkpoint recovery in append mode, and foreachBatch is the
  * documented recoverable pattern. Runs terminate cleanly, so batch
  * replay-on-crash (at-least-once at the sink) is not in play; what is
  * under test is OPERATOR state resumption.
  */
class RecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val MinUs = 60L * 1000000L
  private val HourUs = 3600L * 1000000L

  // ---- deterministic two-phase input -------------------------------------
  // Rows at 1-minute event-time spacing; user = i mod 3, side = i mod 2 —
  // key and join side independent, so cross-boundary pairs exist (e.g. a
  // left at minute 238 pairing with a right at minute 241 can only be
  // emitted by run 2 from run 1's restored archive).
  private def mkRows(ids: Range): Seq[(Long, Long, Long, Long, Double, Boolean)] =
    ids.map { i =>
      (i.toLong, (i % 3).toLong, i.toLong * MinUs, (i * 7 % 100).toLong,
        (i % 13).toDouble, i % 2 == 0)
    }

  /** Far-future row (its own key, right side): advances the final
    * watermark past every real window/timer so run 2 (and the
    * uninterrupted run) flush trailing state — the EOS punctuation of the
    * declared queries, here as a plain data row. It lands in a far-future
    * pane/window/bucket that never fires, so it adds no output itself.
    */
  private val Sentinel =
    (999999L, 999L, 1000L * 24 * HourUs, 0L, 0.0d, false)

  /** One parquet file per call, stamped with a strictly-increasing mod
    * time so the file source's (modTime, path) order — and therefore the
    * per-batch watermark sequence — is identical across the interrupted
    * and uninterrupted runs. Only NEW files are stamped: re-stamping a
    * processed file would make the source's seen-files tracker treat it
    * as new and replay it.
    */
  private def writeFile(s: SparkSession, dir: java.io.File,
      rows: Seq[(Long, Long, Long, Long, Double, Boolean)],
      stamped: scala.collection.mutable.Set[String],
      clock: java.util.concurrent.atomic.AtomicLong): Unit = {
    import s.implicits._
    rows.toDF("event_id", "user_id", "ts_us", "cents", "value", "is_left")
      .coalesce(1).write.mode("append").parquet(dir.getPath)
    stampNew(dir, stamped, clock)
  }

  private def stampNew(dir: java.io.File,
      stamped: scala.collection.mutable.Set[String],
      clock: java.util.concurrent.atomic.AtomicLong): Unit =
    dir.listFiles().filter(f => f.getName.endsWith(".parquet") &&
        !stamped.contains(f.getName))
      .sortBy(_.getName).foreach { f =>
        f.setLastModified(clock.addAndGet(10000L))
        stamped += f.getName
      }

  private val InputSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cents", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("is_left", org.apache.spark.sql.types.BooleanType)))

  private def source(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(InputSchema).option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("event_time", expr("timestamp_micros(ts_us)"))
      .withWatermark("event_time", "10 minutes")

  // ---- the four emit-once operator frames --------------------------------

  private def ffatFrame(s: SparkSession, dir: String): DataFrame = {
    implicit val sp = s
    import s.implicits._
    val in = source(s, dir)
      .selectExpr("CAST(user_id AS STRING) AS key", "ts_us", "cents", "event_time")
      .as[FfatInT]
    StatefulOps.slidingWindowsFfatAppend(in, lenUs = HourUs, slideUs = 15L * MinUs).toDF()
  }

  private def intervalFrame(s: SparkSession, dir: String): DataFrame = {
    implicit val sp = s
    import s.implicits._
    val bound = 30L * MinUs
    val in = source(s, dir)
      .selectExpr("event_id", "user_id", "ts_us", "value", "is_left AS isLeft",
        "event_time")
      .as[IjTIn]
    StatefulOps.intervalJoinBucketed(in, bound, bucketUs = bound).toDF()
  }

  private def asofFrame(s: SparkSession, dir: String): DataFrame = {
    implicit val sp = s
    import s.implicits._
    val in = source(s, dir)
      .selectExpr("event_id", "user_id", "ts_us", "value", "is_left AS isLeft",
        "event_time")
      .as[AsofIn]
    StatefulOps.asofJoinShared(in).toDF()
  }

  private def nonincFrame(s: SparkSession, dir: String): DataFrame = {
    implicit val sp = s
    import s.implicits._
    val in = source(s, dir)
      .selectExpr("user_id", s"(ts_us div $HourUs) * $HourUs AS win_start_us",
        "cents", "event_time")
      .as[NonincIn]
    StatefulOps.nonincWindowsAppend(in, HourUs).toDF()
  }

  /** KSlack TTL frame with DISORDER (±6 min jitter on a 20 min watermark
    * delay, so the engine never late-drops): buffers, the adapted K, the
    * last-emitted guard and the `dropped` counter all live in state at
    * the restart boundary, and the emitted `dropped_so_far` values make
    * counter continuity directly visible — a reset counter after restart
    * diverges from the uninterrupted control run.
    */
  private def kslackFrame(s: SparkSession, dir: String): DataFrame = {
    implicit val sp = s
    import s.implicits._
    val in = s.readStream.schema(InputSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("seq", col("event_id"))
      .withColumn("ts_j", expr(s"ts_us + ((event_id % 5) - 2) * ${3L * MinUs}"))
      .withColumn("event_time", expr("timestamp_micros(ts_j)"))
      .withWatermark("event_time", "20 minutes")
      .selectExpr("user_id", "event_id", "seq", "ts_j AS ts_us", "cents",
        "event_time")
      .as[KsInT]
    KSlack.reorderTtl(in, ttlUs = 30L * MinUs).toDF()
  }

  /** Rolling-reduce TTL frame (update mode): per-key fold sums/counts
    * must continue across the restart — a fold restarted from zero
    * diverges from the control run on every phase-B emission.
    */
  private def rollingFrame(s: SparkSession, dir: String): DataFrame = {
    implicit val sp = s
    import s.implicits._
    val in = source(s, dir)
      .selectExpr("event_id", "user_id", "ts_us", "cents", "event_time")
      .as[EvRowT]
    StatefulOps.rollingReduceTtl(in, ttlUs = 45L * MinUs).toDF()
  }

  // ---- harness -----------------------------------------------------------

  private def runToBuffer(frame: DataFrame, ckpt: String,
      mode: String): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    val q = frame.writeStream
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: Dataset[Row], _: Long) =>
        val rows = df.collect().map(_.toSeq.toString)
        buf.synchronized { buf ++= rows }
        ()
      }
      .start()
    q.awaitTermination()
    buf.toSeq
  }

  private def tmpRoot(tag: String): java.io.File = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Files.createTempDirectory("graft").getParent
    java.nio.file.Files.createTempDirectory(base, s"graft-recovery-$tag").toFile
  }

  /** `managers` = the checkpoint file manager class of run 1 and of run 2
    * (and the control run); None keeps the session's. */
  private def recoveryCase(tag: String, rocksDb: Boolean,
      frame: (SparkSession, String) => DataFrame,
      mode: String, managers: Option[(String, String)] = None): Unit = {
    val s = spark.newSession()
    GraftSession.adopt(s)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    if (rocksDb) s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = tmpRoot(tag)
    val dataDir = new java.io.File(root, "in"); dataDir.mkdirs()
    val ckptInterrupted = new java.io.File(root, "ck-interrupted").getPath
    val ckptFull = new java.io.File(root, "ck-full").getPath
    val stamped = scala.collection.mutable.Set[String]()
    val clock = new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())
    try {
      // phase A: two files → two micro-batches; watermark reaches 229 min,
      // so early windows fire and evict DURING run 1
      writeFile(s, dataDir, mkRows(0 until 120), stamped, clock)
      writeFile(s, dataDir, mkRows(120 until 240), stamped, clock)
      managers.foreach { case (first, _) => s.conf.set(ManagerKey, first) }
      val out1 = runToBuffer(frame(s, dataDir.getPath), ckptInterrupted, mode)
      val sidecars1 = offsetSidecars(ckptInterrupted)
      managers.foreach { case (first, second) =>
        assert((sidecars1 > 0) == (first == SparkManager), s"$tag: run 1 did not write through $first")
        s.conf.set(ManagerKey, second)
      }

      // phase B: two more files + the far-future sentinel that flushes
      // trailing state
      writeFile(s, dataDir, mkRows(240 until 360), stamped, clock)
      writeFile(s, dataDir, mkRows(360 until 480) :+ Sentinel, stamped, clock)
      val out2 = runToBuffer(frame(s, dataDir.getPath), ckptInterrupted, mode)
      managers.foreach { case (_, second) =>
        assert((offsetSidecars(ckptInterrupted) > sidecars1) == (second == SparkManager),
          s"$tag: run 2 did not write through $second")
      }

      // uninterrupted control: fresh checkpoint, same files, same
      // (modTime, path) order → same per-batch watermark sequence
      val full = runToBuffer(frame(s, dataDir.getPath), ckptFull, mode)

      assert(out1.nonEmpty, s"$tag: run 1 emitted nothing — no state fired in phase A")
      assert(out2.nonEmpty, s"$tag: run 2 emitted nothing — nothing resumed from checkpoint")
      val union = out1 ++ out2
      assert(union.size == union.distinct.size,
        s"$tag: restart re-emitted ${union.size - union.distinct.size} rows " +
          "(fired frontier / removed state not restored)")
      assert(union.sorted == full.sorted,
        s"$tag: interrupted union (${union.size} rows) != uninterrupted run " +
          s"(${full.size} rows); " +
          s"missing=${(full.toSet -- union.toSet).take(3)} " +
          s"extra=${(union.toSet -- full.toSet).take(3)}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  // ---- the ingestion pipeline's own state across a restart ---------------
  // The production path (stream_pipeline_clean_v2 shape): stateless
  // predicate set (quality + Gopher + URL blocklist) → stream-static
  // decontamination join against a cached contaminated-id set computed
  // from the batch corpus → dropDuplicatesWithinWatermark on the text
  // digest. Two things live at the restart boundary and are asserted
  // here, per provider:
  //  1. the dedup DIGEST STATE: a phase-B exact duplicate of a phase-A
  //     text must NOT be re-admitted by the resumed query instance;
  //  2. the STATIC side is resolve-time, not checkpointed: the new
  //     instance re-resolves (and re-caches) the contaminated-id set over
  //     the corpus as it NOW stands, so a contaminated doc that only
  //     exists in phase B is still flagged. Contamination is a per-row
  //     property (own text vs the benchmark grams), so the growing
  //     corpus keeps the interrupted union comparable to the control run.
  // In-session restarts must release the tracked cache first (the driver
  // lifecycle does; a restarted driver PROCESS starts cold anyway) —
  // Spark's CacheManager matches by logical plan, and a stale cached
  // file listing from the previous instance would silently pin the old
  // static side.

  private val DocSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType)))

  /** ≥ 50 words, stopword-rich, mean token length in [3,10] → passes the
    * quality and Gopher predicates; `uniq$i` makes each digest distinct. */
  private def passText(i: Long): String =
    "and that it should have to be part of the record with care because " +
    "the quick brown fox jumps over the lazy dog while many people read " +
    "long books about science and history in the quiet evening hours and " +
    "the careful reader will have noted that every word of this passage " +
    s"was chosen to be plain and common uniq$i"

  /** Benchmark passage: 20 words disjoint from [[passText]]'s vocabulary,
    * so ONLY docs that embed it share 5-grams with the benchmark. */
  private val BenchPassage =
    "zebra quartz nimbus fjord vortex ember lagoon prism cobalt meadow " +
    "onyx saffron tundra willow basalt cedar dune flint grotto harbor"

  private def writeDocs(s: SparkSession, dir: java.io.File,
      rows: Seq[(Long, String, Long)],
      stamped: scala.collection.mutable.Set[String],
      clock: java.util.concurrent.atomic.AtomicLong): Unit = {
    import s.implicits._
    rows.toDF("doc_id", "text", "ts_us")
      .coalesce(1).write.mode("append").parquet(dir.getPath)
    stampNew(dir, stamped, clock)
  }

  private def pipelineFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = graft.text.TextAnalysis.qualityColumns(col("text")).toMap
    val g = graft.text.TextAnalysis.gopherColumns(col("text")).toMap
    val u = graft.text.TextAnalysis.urlColumns(col("text"), Seq("tracker.net")).toMap
    val cleaned = s.readStream.schema(DocSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      // event time from the DATA (the declared row uses ingress time;
      // a restart test needs the time axis reproducible across runs)
      .withColumn("event_time", expr("timestamp_micros(ts_us)"))
      .select(col("doc_id"), md5(col("text")).as("digest"),
        q("quality_score").as("qs"), g("gopher_pass").as("gp"),
        u("url_blocked").as("ub"), col("event_time"))
      .filter(col("qs") >= 0.5 && col("gp") === 1 && col("ub") === 0)
    val benchGrams = graft.dedup.Dedup.shingles(
      Seq((0L, BenchPassage)).toDF("doc_id", "text"), "doc_id", "text", 5)
    val contaminated = broadcast(graft.Caches.track(
      graft.dedup.Dedup.contaminatedIds(
        s.read.schema(DocSchema).parquet(dir), "doc_id", "text",
        benchGrams, n = 5, minShared = 4)
        .withColumn("__contam", lit(1))))
    cleaned
      .join(contaminated, Seq("doc_id"), "left")
      .filter(col("__contam").isNull)
      .select("doc_id", "digest", "event_time")
      .withWatermark("event_time", "4 hours")
      .dropDuplicatesWithinWatermark("digest")
      .select("doc_id", "digest")
  }

  private def pipelineRecoveryCase(rocksDb: Boolean): Unit = {
    val s = spark.newSession()
    GraftSession.adopt(s)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    if (rocksDb) s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = tmpRoot(if (rocksDb) "pipeline-rocks" else "pipeline-hdfs")
    val dataDir = new java.io.File(root, "in"); dataDir.mkdirs()
    val ckptInterrupted = new java.io.File(root, "ck-interrupted").getPath
    val ckptFull = new java.io.File(root, "ck-full").getPath
    val stamped = scala.collection.mutable.Set[String]()
    val clock = new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())
    // +100 min base: an event time of exactly epoch 0 ties the engine's
    // INITIAL watermark (also 0) and is filtered as late before the dedup
    def doc(id: Long, text: String) = (id, text, (id + 100) * MinUs)
    try {
      // phase A, two files: passing docs, an in-batch + a cross-file
      // duplicate, a Gopher-failing doc, a contaminated doc
      writeDocs(s, dataDir, (0L to 9L).map(i => doc(i, passText(i))) ++ Seq(
        doc(110, passText(3)),                      // in-batch duplicate
        doc(101, "too short to pass")), stamped, clock)
      writeDocs(s, dataDir, (12L to 19L).map(i => doc(i, passText(i))) ++ Seq(
        doc(120, passText(5)),                      // cross-file duplicate
        doc(121, passText(121) + " " + BenchPassage)), // contaminated
        stamped, clock)
      val out1 = runToBuffer(pipelineFrame(s, dataDir.getPath), ckptInterrupted, "append")
      graft.Caches.releaseAll() // the restart boundary: no warm cache survives

      // phase B: a CROSS-RESTART duplicate (130 re-sends 7's text — only
      // restored digest state can drop it), a phase-B-only contaminated
      // doc (131 — only a re-resolved static side can flag it), an
      // in-run-2 duplicate, a blocked-URL doc
      writeDocs(s, dataDir, (22L to 29L).map(i => doc(i, passText(i))) ++ Seq(
        doc(130, passText(7)),
        doc(131, passText(131) + " " + BenchPassage)), stamped, clock)
      writeDocs(s, dataDir, (32L to 39L).map(i => doc(i, passText(i))) ++ Seq(
        doc(140, passText(25)),                     // in-run-2 duplicate
        doc(141, passText(141) + " see https://tracker.net/x")), stamped, clock)
      val out2 = runToBuffer(pipelineFrame(s, dataDir.getPath), ckptInterrupted, "append")
      graft.Caches.releaseAll()

      // uninterrupted control over the same files / same batch sequence
      val full = runToBuffer(pipelineFrame(s, dataDir.getPath), ckptFull, "append")
      graft.Caches.releaseAll()

      assert(out1.nonEmpty && out2.nonEmpty, "a phase emitted nothing")
      val union = out1 ++ out2
      assert(union.size == union.distinct.size,
        s"restart re-emitted ${union.size - union.distinct.size} rows")
      assert(union.sorted == full.sorted,
        s"interrupted union (${union.size}) != uninterrupted run (${full.size}); " +
          s"missing=${(full.toSet -- union.toSet).take(3)} " +
          s"extra=${(union.toSet -- full.toSet).take(3)}")
      // the two restart-specific facts, asserted by doc_id directly:
      // rows render as "<SeqName>(doc_id, digest)" — take the first field
      val ids = union.map(r =>
        r.dropWhile(_ != '(').drop(1).takeWhile(_ != ',').trim.toLong).toSet
      assert(!ids.contains(130L),
        "cross-restart duplicate re-admitted: dedup digest state not restored")
      assert(!ids.contains(131L),
        "phase-B contaminated doc admitted: static side not re-resolved by the new instance")
      val expected = ((0L to 9L) ++ (12L to 19L) ++ (22L to 29L) ++ (32L to 39L)).toSet
      assert(ids == expected,
        s"survivor set wrong; missing=${(expected -- ids).take(5)} extra=${(ids -- expected).take(5)}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("ingestion pipeline (clean_v2 shape) resumes exactly-once from a checkpoint (HDFS-backed state store)") {
    pipelineRecoveryCase(rocksDb = false)
  }
  test("ingestion pipeline (clean_v2 shape) resumes exactly-once from a checkpoint (RocksDB state store)") {
    pipelineRecoveryCase(rocksDb = true)
  }

  // ---- the round-10 ingestion-scoring shape (lines twin / span probe):
  // explode → stream-static vocabulary join → watermarked windowed agg.
  // The recovery-critical state is the AGGREGATION buffer: a document
  // arriving in parts across the restart must resume its cumulative
  // counts from the restored store, not restart from zero.

  /** Vocabulary trained on a FIXED offline corpus (`vocabDir`) — stable
    * across restarts, as a deployed scoring artifact is; event time from
    * the DATA so the time axis replays identically across runs.
    */
  private def scoringFrame(vocabDir: String)(s: SparkSession, dir: String): DataFrame = {
    val vocab = graft.Caches.track(
      graft.text.CorpusStats.vocabulary(
        s.read.schema(DocSchema).parquet(vocabDir), "doc_id", "text"))
    val toks = s.readStream.schema(DocSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("event_time", expr("timestamp_micros(ts_us)"))
      .select(col("doc_id"), col("event_time"),
        explode(graft.functions.GraftFunctions.tokens(col("text"))).as("token"))
      .withWatermark("event_time", "4 hours")
    toks.join(vocab, "token")
      .groupBy(window(col("event_time"), "1 hour"), col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum((col("df") === 1L).cast("long")).as("n_hapax"))
      .select("doc_id", "n_tokens", "n_hapax")
  }

  private def scoringRecoveryCase(rocksDb: Boolean): Unit = {
    val s = spark.newSession()
    GraftSession.adopt(s)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    if (rocksDb) s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = tmpRoot(if (rocksDb) "scoring-rocks" else "scoring-hdfs")
    val vocabDir = new java.io.File(root, "vocab")
    val dataDir = new java.io.File(root, "in"); dataDir.mkdirs()
    val ckptInterrupted = new java.io.File(root, "ck-interrupted").getPath
    val ckptFull = new java.io.File(root, "ck-full").getPath
    val stamped = scala.collection.mutable.Set[String]()
    val clock = new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())
    // all parts inside ONE 1-hour window (minutes 110–119) so the agg
    // group genuinely accumulates across the restart
    def t(min: Long) = min * MinUs
    try {
      // offline corpus: df(alpha)=3, beta=2, gamma=2, delta=2,
      // epsilon=1, zeta=1, rareone=1 (the hapax signals)
      import s.implicits._
      Seq((0L, "alpha beta gamma delta", 0L),
        (1L, "alpha beta epsilon zeta", 0L),
        (2L, "rareone gamma delta alpha", 0L))
        .toDF("doc_id", "text", "ts_us")
        .coalesce(1).write.parquet(vocabDir.getPath)
      val frame = scoringFrame(vocabDir.getPath) _
      // phase A: doc 10 part 1, doc 11 complete (with a hapax token)
      writeDocs(s, dataDir, Seq(
        (10L, "alpha beta", t(110)),
        (11L, "alpha rareone", t(111))), stamped, clock)
      val out1 = runToBuffer(frame(s, dataDir.getPath), ckptInterrupted, "update")
      graft.Caches.releaseAll() // restart boundary: no warm cache survives

      // phase B: doc 10 PART 2 in the same window (cumulative counts can
      // only come from restored aggregation state), doc 12 with an
      // out-of-vocabulary token (dropped by the join on both runs)
      writeDocs(s, dataDir, Seq(
        (10L, "gamma gamma epsilon", t(115)),
        (12L, "zeta unknowntoken", t(112))), stamped, clock)
      val out2 = runToBuffer(frame(s, dataDir.getPath), ckptInterrupted, "update")
      graft.Caches.releaseAll()

      // uninterrupted control, same files, same batch sequence
      val full = runToBuffer(frame(s, dataDir.getPath), ckptFull, "update")
      graft.Caches.releaseAll()

      val union = out1 ++ out2
      assert(union.sorted == full.sorted,
        s"interrupted union (${union.size}) != uninterrupted run (${full.size}); " +
          s"missing=${(full.toSet -- union.toSet).take(3)} " +
          s"extra=${(union.toSet -- full.toSet).take(3)}")
      // the restart-critical fact: doc 10's run-2 update is CUMULATIVE —
      // part 1 (2 tokens, 0 hapax) + part 2 (3 tokens, 1 hapax: epsilon).
      // Rows render as "<SeqName>(doc_id, n, h)" — compare from the '('.
      val run2 = out2.map(_.dropWhile(_ != '('))
      assert(run2.contains("(10, 5, 1)"),
        s"doc 10 did not resume its aggregation state: run-2 rows = $out2")
      // and run 2 never re-emitted phase-A-only groups (offsets restored)
      assert(!run2.exists(_.startsWith("(11,")),
        s"run 2 re-emitted a phase-A group: $out2")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("ingestion scoring agg resumes cumulative state from a checkpoint (HDFS-backed state store)") {
    scoringRecoveryCase(rocksDb = false)
  }
  test("ingestion scoring agg resumes cumulative state from a checkpoint (RocksDB state store)") {
    scoringRecoveryCase(rocksDb = true)
  }

  // ---- checkpoints written by one file manager resume under the other:
  // Spark's FileContext-based manager leaves Hadoop `.<name>.crc` sidecars
  // beside every file, LocalCheckpointFileManager writes none; either
  // order must resume exactly-once, so existing checkpoints keep working
  // and a deployment can drop the class again.

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val SparkManager = classOf[org.apache.spark.sql.execution.streaming.checkpointing.
    FileContextBasedCheckpointFileManager].getName
  private val GraftManager = classOf[LocalCheckpointFileManager].getName

  /** Hadoop `.crc` sidecars in the offset log, which only the checkpoint
    * file manager writes: Spark's leaves one per entry, ours none. */
  private def offsetSidecars(ckpt: String): Int =
    new java.io.File(ckpt, "offsets").list()
      .count(n => n.startsWith(".") && n.endsWith(".crc"))

  for ((first, second, order) <- Seq(
      (SparkManager, GraftManager, "Spark's manager then LocalCheckpointFileManager"),
      (GraftManager, SparkManager, "LocalCheckpointFileManager then Spark's manager"));
      rocksDb <- Seq(false, true)) {
    val store = if (rocksDb) "RocksDB" else "HDFS-backed"
    test(s"ffat-append resumes across checkpoint file managers: $order ($store state store)") {
      recoveryCase("ffat-append", rocksDb, ffatFrame _, "append", Some((first, second)))
    }
  }

  private val cases: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("ffat-append", ffatFrame _, "append"),
    ("interval-bucketed", intervalFrame _, "append"),
    ("asof", asofFrame _, "append"),
    ("noninc-append", nonincFrame _, "append"),
    ("kslack-ttl", kslackFrame _, "append"),
    ("rolling-ttl", rollingFrame _, "update"))

  for ((tag, frame, mode) <- cases) {
    test(s"$tag resumes exactly-once from a checkpoint (HDFS-backed state store)") {
      recoveryCase(tag, rocksDb = false, frame, mode)
    }
    test(s"$tag resumes exactly-once from a checkpoint (RocksDB state store)") {
      recoveryCase(tag, rocksDb = true, frame, mode)
    }
  }
}
