package graft

import java.io.{File, FileNotFoundException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PositionedReadable,
  RawLocalFileSystem, Seekable}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{FfatInT, LocalCheckpointFileManager, StatefulOps}

/** The contract of [[LocalCheckpointFileManager]] against the manager it
  * replaces (Spark's `FileContext`-based one), one case per clause, plus the
  * mechanism it exists for: a stateful query on a `file:` checkpoint starts
  * no OS process from checkpoint-file code.
  */
class CheckpointFileManagerSpec extends AnyFunSuite {

  private def withDir[T](body: File => T): T = {
    val dir = Files.createTempDirectory("graft-cfm").toFile
    try body(dir) finally FileUtils.deleteQuietly(dir)
  }

  private def manager(dir: File) =
    new LocalCheckpointFileManager(at(dir), new Configuration())

  private def write(m: LocalCheckpointFileManager, p: Path, s: String,
      overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def at(f: File): Path = new Path(f.toURI.toString)
  private def at(dir: File, name: String): Path = at(new File(dir, name))

  private def read(f: File): String = new String(Files.readAllBytes(f.toPath), UTF_8)

  private def names(dir: File): Set[String] = dir.list().toSet

  test("createAtomic publishes on close; overwriteIfPossible replaces an existing target") {
    withDir { dir =>
      val m = manager(dir)
      val p = at(dir, "0")
      val out = m.createAtomic(p, overwriteIfPossible = false)
      out.write("first".getBytes(UTF_8))
      assert(!m.exists(p), "the target is visible before close")
      out.close()
      assert(read(new File(dir, "0")) == "first")
      write(m, p, "second", overwrite = true)
      assert(read(new File(dir, "0")) == "second")
      assert(names(dir) == Set("0"), s"temp files left: ${names(dir)}")
    }
  }

  test("createAtomic without overwrite onto an existing file throws Hadoop's FileAlreadyExistsException and keeps the old bytes") {
    withDir { dir =>
      val m = manager(dir)
      val p = at(dir, "7")
      write(m, p, "winner")
      val out = m.createAtomic(p, overwriteIfPossible = false)
      out.write("loser".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](out.close())
      out.cancel() // what HDFSMetadataLog does next; must stay a no-op
      assert(read(new File(dir, "7")) == "winner")
      assert(names(dir) == Set("7"), s"temp files left: ${names(dir)}")
    }
  }

  test("cancel leaves neither the target nor the temp file") {
    withDir { dir =>
      val m = manager(dir)
      val out = m.createAtomic(at(dir, "1.delta"), overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close() // after cancel, close publishes nothing
      assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
    }
  }

  test("open of a missing file throws FileNotFoundException; the stream seeks and reads positionally") {
    withDir { dir =>
      val m = manager(dir)
      intercept[FileNotFoundException](m.open(at(dir, "absent")))
      val p = at(dir, "data")
      write(m, p, "0123456789")
      val in = m.open(p)
      try {
        assert(in.getWrappedStream.isInstanceOf[Seekable])
        assert(in.getWrappedStream.isInstanceOf[PositionedReadable])
        in.seek(6)
        assert(in.read() == '6')
        assert(in.getPos == 7)
        val buf = new Array[Byte](3)
        in.readFully(2L, buf)
        assert(new String(buf, UTF_8) == "234")
        assert(in.getPos == 7, "a positional read moved the stream")
        in.seek(0)
        assert(new String(in.readAllBytes(), UTF_8) == "0123456789")
      } finally in.close()
    }
  }

  test("list hides in-flight temp files and Hadoop .crc sidecars, keeps Spark's own <name>.crc") {
    withDir { dir =>
      val m = manager(dir)
      write(m, at(dir, "1.delta"), "a")
      write(m, at(dir, "1.delta.crc"), "c") // Spark's checksum file
      Files.write(new File(dir, ".1.delta.crc").toPath, Array[Byte](1)) // Hadoop's sidecar
      new File(dir, "sub").mkdir()
      val inFlight = m.createAtomic(at(dir, "2.delta"), overwriteIfPossible = false)
      try {
        val listed = m.list(at(dir))
        assert(listed.map(_.getPath.getName).toSet == Set("1.delta", "1.delta.crc", "sub"))
        assert(listed.find(_.getPath.getName == "sub").get.isDirectory)
        assert(listed.find(_.getPath.getName == "1.delta").get.getLen == 1)
        assert(m.list(at(dir), (p: Path) => p.getName.endsWith(".delta"))
          .map(_.getPath.getName).toSeq == Seq("1.delta"))
        intercept[FileNotFoundException](m.list(at(dir, "absent")))
      } finally inFlight.cancel()
    }
  }

  test("delete is recursive, removes the Hadoop sidecar, and is a no-op on a missing path") {
    withDir { dir =>
      val m = manager(dir)
      val tree = new File(dir, "state/0/1")
      m.mkdirs(at(tree))
      Files.write(new File(tree, "1.delta").toPath, Array[Byte](1))
      m.delete(at(dir, "state"))
      assert(!new File(dir, "state").exists())
      Files.write(new File(dir, "5").toPath, Array[Byte](1))
      Files.write(new File(dir, ".5.crc").toPath, Array[Byte](1))
      m.delete(at(dir, "5"))
      assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
      m.delete(at(dir, "never-existed"))
    }
  }

  test("a publish removes a stale Hadoop sidecar of its target") {
    withDir { dir =>
      val m = manager(dir)
      Files.write(new File(dir, "3").toPath, "old".getBytes(UTF_8))
      Files.write(new File(dir, ".3.crc").toPath, Array[Byte](1))
      write(m, at(dir, "3"), "new", overwrite = true)
      assert(names(dir) == Set("3"))
    }
  }

  test("scheme-less paths on a local default filesystem are served locally; other schemes delegate") {
    withDir { dir =>
      val m = new LocalCheckpointFileManager(new Path(dir.getPath), new Configuration())
      assert(m.isLocal)
      assert(m.createCheckpointDirectory() == at(dir))
      write(m, new Path(dir.getPath, "0"), "x")
      assert(CountingFs.renames.get == 0)
      val conf = new Configuration()
      conf.set("fs.countingfs.impl", classOf[CountingFs].getName)
      conf.setBoolean("fs.countingfs.impl.disable.cache", true)
      val root = new Path(s"countingfs://${dir.getPath}")
      val d = new LocalCheckpointFileManager(root, conf)
      write(d, new Path(root, "1"), "y")
      assert(CountingFs.renames.get > 0, "a countingfs: path did not go through its Hadoop FileSystem")
      assert(read(new File(dir, "1")) == "y")
    }
  }

  test("a stateful query on a file: checkpoint starts no process from checkpoint-file code") {
    implicit val s = TestSpark.spark
    implicit val sq = s.sqlContext
    import s.implicits._
    withDir { dir =>
      // a Recording dumped after stop() holds every event; JDK 17's
      // RecordingStream has no stop() that delivers the pending ones
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart").withStackTrace()
      val mem = MemoryStream[FfatInT]
      val sec = 1000000L
      def row(k: Int, t: Long) = FfatInT(s"k$k", t * sec, t, new java.sql.Timestamp(t * 1000L))
      rec.start()
      val q = StatefulOps.slidingWindowsFfatAppend(
          mem.toDS().withWatermark("event_time", "1 second").as[FfatInT], 10 * sec, 2 * sec)
        .writeStream.format("memory").queryName("cfm_jfr")
        .option("checkpointLocation", new File(dir, "ckpt").toURI.toString)
        .outputMode("append").start()
      val dump = new File(dir, "rec.jfr").toPath
      try {
        for (b <- 0 until 3) {
          mem.addData((0 until 20).map(i => row(i % 4, b * 15L + i)): _*)
          q.processAllAvailable()
        }
        assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      } finally {
        q.stop()
        rec.stop()
        rec.dump(dump)
        rec.close()
        s.sql("DROP TABLE IF EXISTS cfm_jfr")
      }
      val fromCheckpointCode = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.contains("CheckpointFileManager"))))
        .map(_.getString("command"))
      assert(fromCheckpointCode.size == 0,
        "processes started from checkpoint-file code, e.g. " + fromCheckpointCode.take(3))
    }
  }
}

/** A local filesystem under its own scheme, counting renames. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countingfs:///")
  override def getScheme: String = "countingfs"
  override def rename(src: Path, dst: Path): Boolean = {
    CountingFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object CountingFs {
  val renames = new AtomicInteger(0)
}
