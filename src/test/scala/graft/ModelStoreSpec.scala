package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.ModelStore

/** The trained-artifact store: generation commit + atomic pointer +
  * retention, every crash window landing on a loadable store, and
  * value-exact round trips for each typed codec (LM, classifier, DSIR,
  * BPE merges — the order-sensitive one).
  */
class ModelStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-modelstore").toString + "/store"

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("save/load round trip: relations and params, generations advance, retention prunes") {
    import spark.implicits._
    val root = tmpRoot()
    assert(ModelStore.latestGen(spark, root).isEmpty)
    val rel = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val g0 = ModelStore.save(spark, root, Seq("r" -> rel),
      Map("v" -> "41", "tau" -> 1.5.toString))
    assert(g0 == 0L && ModelStore.latestGen(spark, root).contains(0L))
    assert(ModelStore.loadParams(spark, root) == Map("v" -> "41", "tau" -> "1.5"))
    assert(ModelStore.loadRelation(spark, root, "r").orderBy("id")
      .collect().map(_.toSeq).toSeq == rel.orderBy("id").collect().map(_.toSeq).toSeq)
    // three more saves with keep=2: only the two newest generations remain
    for (i <- 1 to 3)
      ModelStore.save(spark, root, Seq("r" -> rel), Map("v" -> i.toString))
    assert(ModelStore.latestGen(spark, root).contains(3L))
    assert(ModelStore.loadParams(spark, root)("v") == "3")
    val fs = fsOf(root)
    val gens = fs.globStatus(new org.apache.hadoop.fs.Path(root, "gen=*"))
      .map(_.getPath.getName).sorted.toSeq
    assert(gens == Seq("gen=2", "gen=3"), s"retention must keep 2: $gens")
  }

  test("crash during staging: pointer untouched, previous generation serves, re-save recovers") {
    import spark.implicits._
    val root = tmpRoot()
    val rel = Seq((1L, "a")).toDF("id", "s")
    ModelStore.save(spark, root, Seq("r" -> rel), Map("v" -> "old"))
    val boom = intercept[RuntimeException] {
      ModelStore.save(spark, root, Seq("r" -> rel), Map("v" -> "new"),
        at = p => if (p == Commit.Point.Staged) throw new RuntimeException("injected staging crash"))
    }
    assert(boom.getMessage.contains("injected"))
    // the store still serves the OLD generation
    assert(ModelStore.latestGen(spark, root).contains(0L))
    assert(ModelStore.loadParams(spark, root)("v") == "old")
    // the orphaned staging dir exists mid-crash and is scrubbed by re-save
    // (ttl 0 = every orphan counts as stale; the default 1h protects a
    // LIVE concurrent save, covered by the interleaved-savers test below)
    val fs = fsOf(root)
    def stagingDirs() = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(root, s"${ModelStore.StagingPrefix}-*")))
      .map(_.length).getOrElse(0)
    assert(stagingDirs() == 1, "crashed save must leave its staging orphan")
    val g = ModelStore.save(spark, root, Seq("r" -> rel), Map("v" -> "new"),
      stagingTtlMs = 0L)
    assert(g == 1L && ModelStore.loadParams(spark, root)("v") == "new")
    assert(stagingDirs() == 0, "re-save must scrub stale staging orphans")
  }

  test("two interleaved savers serialize into distinct generations (claim-file CAS)") {
    import spark.implicits._
    val root = tmpRoot()
    val rel = Seq((1L, "a")).toDF("id", "s")
    ModelStore.save(spark, root, Seq("r" -> rel), Map("who" -> "base"))
    // saver A stages, then — inside its pre-commit window — saver B runs
    // a COMPLETE save. Both computed candidate gen 1; B claims it first,
    // A must lose the claim, re-scan, and land on gen 2.
    var bGen = -1L
    val aGen = ModelStore.save(spark, root, Seq("r" -> rel), Map("who" -> "A"),
      keep = 10,
      at = p => if (p == Commit.Point.Staged) {
        bGen = ModelStore.save(spark, root, Seq("r" -> rel),
          Map("who" -> "B"), keep = 10)
      })
    assert(bGen == 1L, s"B raced first and must take gen 1: $bGen")
    assert(aGen == 2L, s"A lost the race and must retry into gen 2: $aGen")
    // both generations are complete and loadable; the pointer (flipped
    // last by A) serves A
    assert(ModelStore.latestGen(spark, root).contains(2L))
    assert(ModelStore.loadParams(spark, root)("who") == "A")
    val fs = fsOf(root)
    assert(spark.read.parquet(s"$root/gen=1/${ModelStore.ParamsRel}")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      .apply("who") == "B", "the raced generation must be intact")
    // neither saver's staging survives
    assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(root,
      s"${ModelStore.StagingPrefix}-*"))).map(_.length).getOrElse(0) == 0)
  }

  test("crash between generation commit and pointer flip: old pointer serves; next save supersedes") {
    import spark.implicits._
    val root = tmpRoot()
    val rel = Seq((1L, "a")).toDF("id", "s")
    ModelStore.save(spark, root, Seq("r" -> rel), Map("v" -> "old"))
    intercept[RuntimeException] {
      ModelStore.save(spark, root, Seq("r" -> rel), Map("v" -> "lost"),
        at = p => if (p == Commit.Point.Published) throw new RuntimeException("injected pointer crash"))
    }
    // gen=1 is complete on disk but UNPOINTED: readers serve gen 0
    assert(ModelStore.latestGen(spark, root).contains(0L))
    assert(ModelStore.loadParams(spark, root)("v") == "old")
    // the next save must allocate PAST the orphan (no collision) and win
    val g = ModelStore.save(spark, root, Seq("r" -> rel), Map("v" -> "new"))
    assert(g == 2L && ModelStore.latestGen(spark, root).contains(2L))
    assert(ModelStore.loadParams(spark, root)("v") == "new")
  }

  test("crash between pointer delete and rename: the complete tmp pointer rolls forward") {
    import spark.implicits._
    val root = tmpRoot()
    val rel = Seq((1L, "a")).toDF("id", "s")
    ModelStore.save(spark, root, Seq("r" -> rel), Map("v" -> "old"))
    ModelStore.save(spark, root, Seq("r" -> rel), Map("v" -> "new"))
    // reconstruct the window by hand: tmp written (complete), LATEST gone
    val fs = fsOf(root)
    val latest = new org.apache.hadoop.fs.Path(root, ModelStore.LatestFile)
    val tmp = new org.apache.hadoop.fs.Path(root, s".${ModelStore.LatestFile}.tmp")
    val out = fs.create(tmp, true)
    out.write("1".getBytes(java.nio.charset.StandardCharsets.UTF_8)); out.close()
    fs.delete(latest, false)
    assert(ModelStore.latestGen(spark, root).contains(1L),
      "a complete tmp pointer must roll forward when LATEST is missing")
    assert(ModelStore.loadParams(spark, root)("v") == "new")
  }

  test("typed codecs are value-exact: LM, classifier, DSIR, ordered BPE merges") {
    import spark.implicits._
    try {
      val docs = Seq(
        (1L, "good prose here and more good prose"),
        (2L, "junk junk junk junk words"),
        (3L, "good words here"),
        (4L, "")
      ).toDF("doc_id", "text")

      // LM: loaded model scores byte-identically to the trained one
      val lmRoot = tmpRoot()
      val lm = graft.text.NgramLm.train(docs.filter(col("doc_id") =!= 2L), "text")
      graft.text.NgramLm.save(spark, lm, lmRoot)
      val lmL = graft.text.NgramLm.load(spark, lmRoot)
      assert(lmL.v == lm.v)
      def scores(m: graft.text.NgramLm.Model) =
        graft.text.NgramLm.score(docs, "doc_id", "text", m)
          .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(scores(lmL) == scores(lm))

      // classifier: double weights round-trip bit-exactly
      val qc = graft.text.QualityClassifier
      val feats = graft.Caches.track(qc.features(docs, "doc_id", "text",
        (col("doc_id") % 2 === 0).cast("int")))
      val cm = qc.train(feats, rounds = 2)
      val cRoot = tmpRoot()
      qc.save(spark, cm, cRoot)
      val cmL = qc.load(spark, cRoot)
      assert(cmL.w.toSeq == cm.w.toSeq, "weights must round-trip bit-exactly")

      // DSIR: arrays + totals
      val dRoot = tmpRoot()
      val dm = graft.text.Dsir.fit(docs, "text", col("doc_id") === 1L)
      graft.text.Dsir.save(spark, dm, dRoot)
      val dmL = graft.text.Dsir.load(spark, dRoot)
      assert(dmL.qlr.toSeq == dm.qlr.toSeq && dmL.ct.toSeq == dm.ct.toSeq &&
        dmL.cr.toSeq == dm.cr.toSeq && dmL.nt == dm.nt && dmL.nr == dm.nr)

      // BPE: merge ORDER is the model — the codec must preserve it
      val bRoot = tmpRoot()
      val (merges, _) = graft.text.Bpe.train(docs, "doc_id", "text", rounds = 3)
      assert(merges.size > 1, "fixture must learn multiple merges")
      graft.text.Bpe.saveMerges(spark, merges, bRoot)
      assert(graft.text.Bpe.loadMerges(spark, bRoot) == merges,
        "merge list must round-trip in training order")
    } finally Caches.releaseAll()
  }
}
