package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.streaming.DriverFold

/** The fold-state primitive's exactly-once-on-restart contract, driven
  * with a deliberately NON-idempotent merge: a running row count plus the
  * set of input parts merged, one part per micro-batch. A double merge
  * inflates the count and a lost merge drops a part, so in every crash
  * window the resumed state must equal the uncrashed run exactly — the
  * per-operator specs fold sketches (KMV, samples) whose merge dedups and
  * would hide a double merge. An unreadable newest fold must fail the
  * resume, never restart from an empty state.
  */
class DriverFoldSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  type St = (Long, mutable.TreeSet[Long])

  private val Parts = 5

  /** Fresh root with `Parts` parquet files (part p holds 20·(p+1) rows)
    * and a stream reading one file per micro-batch. */
  private def withInput(body: (String, () => DataFrame) => Unit): Unit = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-driverfold").toString
    try {
      (0 until Parts).foreach { p =>
        (0 until 20 * (p + 1)).map(i => (p.toLong, i.toLong)).toDF("part", "id")
          .coalesce(1).write.mode("append").parquet(s"$root/in")
      }
      val schema = spark.read.parquet(s"$root/in").schema
      body(root, () => spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** One fold run. `merged` records the parts this run merges;
    * `crashBeforeSave` throws inside the merge of that part (before the
    * state write), `crashAfterSave` throws from `onBatch` once that part
    * is folded (state written, offset commit not yet). `uri` names the
    * state dir as a `file://` URI instead of a plain path. */
  private def fold(stream: DataFrame, root: Option[String],
      merged: mutable.Buffer[Long] = mutable.Buffer.empty,
      crashBeforeSave: Long = -1L, crashAfterSave: Long = -1L,
      uri: Boolean = false): St = {
    implicit val sp = spark
    DriverFold.fold(stream, (0L, mutable.TreeSet.empty[Long]),
        root.map(r => s"$r/ckpt"),
        root.map(r => s"${if (uri) "file://" else ""}$r/state"))(
      (st: St, batch) => {
        val parts = batch.select("part").distinct().collect().map(_.getLong(0))
        merged ++= parts
        if (parts.contains(crashBeforeSave))
          throw new RuntimeException("injected crash before save")
        (st._1 + batch.count(), st._2 ++= parts)
      },
      (st: St) => if (st._2.contains(crashAfterSave))
        throw new RuntimeException("injected crash after save"))
  }

  private def crash(run: => St): Unit = {
    val e = intercept[StreamingQueryException](run)
    assert(e.getMessage.contains("injected crash") ||
      e.getCause.getMessage.contains("injected crash"))
  }

  private def foldFiles(root: String): Seq[String] =
    Option(new java.io.File(s"$root/state").list()).toSeq.flatten
      .filter(_.matches("""fold-\d+\.bin""")).sorted

  private val want: St = (20L * Parts * (Parts + 1) / 2,
    mutable.TreeSet.from(0L until Parts.toLong))

  test("uncrashed fold merges every batch once and keeps the newest two fold files") {
    withInput { (root, stream) =>
      assert(fold(stream(), None) == want)
      assert(fold(stream(), Some(root)) == want)
      assert(foldFiles(root).size == 2, foldFiles(root))
    }
  }

  test("crash before the save: the replayed batch re-merges from the previous fold") {
    withInput { (root, stream) =>
      val before = mutable.Buffer.empty[Long]
      crash(fold(stream(), Some(root), before, crashBeforeSave = 2L))
      val merged = mutable.Buffer.empty[Long]
      assert(fold(stream(), Some(root), merged) == want)
      // files sharing a modification time may stream in either order, so
      // the expectation derives from what the crashed run merged
      assert(before.last == 2L && merged.head == 2L &&
        merged.toSet == want._2.toSet -- before.init && merged.distinct == merged,
        s"resume must re-merge the crashed batch and nothing persisted: $before / $merged")
    }
  }

  test("crash after the save, before the offset commit: the replayed batch is skipped") {
    // the state dir given both as a plain path and as a file:// URI
    for (uri <- Seq(false, true)) withInput { (root, stream) =>
      val before = mutable.Buffer.empty[Long]
      crash(fold(stream(), Some(root), before, crashAfterSave = 2L, uri = uri))
      val merged = mutable.Buffer.empty[Long]
      assert(fold(stream(), Some(root), merged, uri = uri) == want)
      assert(before.last == 2L &&
        merged.toSet == want._2.toSet -- before && merged.distinct == merged,
        s"the replayed, already-persisted batch must skip its merge: $before / $merged")
    }
  }

  test("a stale .tmp left by a crash mid-save is ignored and overwritten") {
    withInput { (root, stream) =>
      crash(fold(stream(), Some(root), crashBeforeSave = 2L))
      // the crashed batch's id is one past the newest persisted fold
      val next = foldFiles(root).map(_.stripPrefix("fold-").stripSuffix(".bin").toLong).max + 1
      val junk = "partial".getBytes("UTF-8")
      Files.write(Paths.get(root, "state", s".fold-$next.tmp"), junk)
      Files.write(Paths.get(root, "state", ".fold-99.tmp"), junk)
      assert(fold(stream(), Some(root)) == want)
      assert(!Files.exists(Paths.get(root, "state", s".fold-$next.tmp")),
        "the replayed batch's save must overwrite and rename the stale tmp")
    }
  }

  test("an unreadable newest fold fails the resume instead of starting empty") {
    withInput { (root, stream) =>
      crash(fold(stream(), Some(root), crashAfterSave = 2L))
      val newest = Paths.get(root, "state", foldFiles(root).last)
      val good = Files.readAllBytes(newest)
      def refused(bytes: Array[Byte]): Unit = {
        Files.write(newest, bytes)
        val e = intercept[IllegalStateException](fold(stream(), Some(root)))
        assert(e.getMessage.contains("refusing to resume"), e.getMessage)
      }
      refused(good.updated(good.length / 2, (good(good.length / 2) ^ 0x5a).toByte))
      refused(good.take(good.length - 3))
      refused(Array.emptyByteArray)
      // a well-formed file of another state shape is refused too
      Files.write(newest, good)
      implicit val sp = spark
      val e = intercept[IllegalStateException](
        DriverFold.fold(stream(), 0L, Some(s"$root/ckpt"), Some(s"$root/state"))(
          (n: Long, b) => n + b.count(), (_: Long) => ()))
      assert(e.getMessage.contains("expected J"), e.getMessage)
      // the intact file still resumes to the uncrashed state
      assert(fold(stream(), Some(root)) == want)
    }
  }
}
