package graft

import java.io.{File, FileNotFoundException, IOException}
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption
import java.util.regex.Pattern
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path, StreamCapabilities}
import org.apache.spark.sql.SparkSession

/** The one durable-commit primitive every persisted store publishes
  * through — ModelStore generations and their `LATEST` pointer, Export
  * manifests and compaction swaps, DriverFold state files. It owns how
  * staged bytes become DURABLE and then VISIBLE; each store keeps its own
  * policy (generation claim, manifest marker, swap recovery, replay skip)
  * on top, on any Hadoop `FileSystem` URI.
  *
  * Durability. On `file:` paths the raw files are forced with
  * `FileChannel.force`: Hadoop's default local filesystem is a
  * `ChecksumFileSystem` whose output stream is not `Syncable`, so
  * `hsync` there quietly degrades to `flush`. The `.crc` sidecars it
  * writes are forced with their files, so data and checksum stay
  * consistent. Elsewhere a small file is `hsync`ed when its stream
  * supports it, and a tree its writer closed (Spark's job commit) is as
  * durable as that filesystem makes a closed file. Every rename is
  * followed by forcing the parent directories, so the rename itself
  * survives a crash.
  *
  * Visibility is always one rename, so a staged tree or tmp file appears
  * whole or not at all. Renaming onto an existing directory moves the
  * source INSIDE it on both HDFS and local filesystems, so a publish
  * requires an absent target.
  */
object Commit {

  /** The crash windows the protocols pass, named once for all of them. A
    * store's hook is called with each point as it reaches it; specs throw
    * there to drive every window. */
  sealed abstract class Point
  object Point {
    /** The data is written; the record that commits it is not staged. */
    case object Written extends Point
    /** The replacement is complete under its staging name; nothing new is
      * visible yet. */
    case object Staged extends Point
    /** The old target is moved aside; the staged replacement is not yet
      * renamed into its place. */
    case object Vacated extends Point
    /** The staged tree is visible under its final name; the pointer that
      * commits it is not written yet. */
    case object Published extends Point

    val values: Seq[Point] = Seq(Written, Staged, Vacated, Published)
  }

  val NoHook: Point => Unit = _ => ()

  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The tmp sibling a small-file write stages in: `.<name>.tmp`, the
    * name's extension dropped (`LATEST` → `.LATEST.tmp`, `fold-3.bin` →
    * `.fold-3.tmp`). */
  private def tmpFor(target: Path): Path =
    new Path(target.getParent, "." + target.getName.replaceFirst("""\.[^.]*$""", "") + ".tmp")

  /** Atomic small-file write: tmp sibling → force → rename → force the
    * parent. The tmp is complete before the old target is deleted, so a
    * crash between the delete and the rename leaves a tmp that
    * [[readFile]] rolls forward from. */
  def writeFile(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = {
    val tmp = tmpFor(target)
    val out = fs.create(tmp, true)
    try {
      out.write(bytes)
      if (out.hasCapability(StreamCapabilities.HSYNC)) out.hsync()
    } finally out.close()
    force(fs, tmp)
    fs.delete(target, false)
    move(fs, tmp, target)
  }

  /** The bytes of `target`, rolling forward from its tmp when the target
    * is missing. Only a first write that crashed mid-tmp can leave an
    * incomplete tmp without a target, so the caller's parse must reject
    * an incomplete body. Reads bypass the `.crc` sidecar: on a checksum
    * mismatch the local filesystem moves the file into a `bad_files`
    * directory, which would make a corrupt newest entry silently vanish
    * instead of failing its caller's own validation. */
  def readFile(fs: FileSystem, target: Path): Option[Array[Byte]] =
    Seq(target, tmpFor(target)).find(fs.exists).map { p =>
      val in = (fs match { case c: ChecksumFileSystem => c.getRawFileSystem case _ => fs }).open(p)
      try in.readAllBytes() finally in.close()
    }

  /** Directory publish: force every file and directory under `staged`,
    * rename it to the absent `target`, force the parents. */
  def publishDir(fs: FileSystem, staged: Path, target: Path): Unit = {
    require(!fs.exists(target), s"publish target exists: $target")
    force(fs, staged)
    move(fs, staged, target)
  }

  /** Rename `src` to `dst`, creating `dst`'s parent, then force both
    * parents so the rename is durable. */
  def move(fs: FileSystem, src: Path, dst: Path): Unit = {
    fs.mkdirs(dst.getParent)
    require(fs.rename(src, dst), s"commit rename failed: $src -> $dst")
    Seq(dst.getParent, src.getParent).distinct
      .flatMap(local(fs, _)).foreach(sync)
  }

  /** Ids of the entries of `root` named `<prefix><id><suffix>`
    * (`gen=<k>`, `fold-<b>.bin`), ascending. */
  def numbered(fs: FileSystem, root: Path, prefix: String,
      suffix: String = ""): Seq[Long] = {
    val pat = (Pattern.quote(prefix) + """(\d+)""" + Pattern.quote(suffix)).r
    val names =
      try fs.listStatus(root).toSeq.map(_.getPath.getName)
      catch { case _: FileNotFoundException => Nil }
    names.collect { case pat(id) => id.toLong }.sorted
  }

  /** Delete all but the newest `keep` numbered entries; returns the ids
    * kept, ascending. */
  def prune(fs: FileSystem, root: Path, prefix: String, suffix: String,
      keep: Int): Seq[Long] = {
    val ids = numbered(fs, root, prefix, suffix)
    ids.dropRight(keep).foreach(id => fs.delete(new Path(root, s"$prefix$id$suffix"), true))
    ids.takeRight(keep)
  }

  private def local(fs: FileSystem, p: Path): Option[File] =
    if (fs.getUri.getScheme == "file") Some(new File(fs.makeQualified(p).toUri)) else None

  /** Force `p` — a file with its checksum sidecar, or a whole tree. */
  private def force(fs: FileSystem, p: Path): Unit =
    (p +: Seq(fs).collect { case c: ChecksumFileSystem => c.getChecksumFile(p) })
      .flatMap(local(fs, _)).filter(_.exists).foreach(forceTree)

  private def forceTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(forceTree))
    sync(f)
  }

  /** fsync one file or directory (a read-only channel syncs on Linux).
    * Best effort for directories: not every platform opens one for sync. */
  private def sync(f: File): Unit =
    try {
      val ch = FileChannel.open(f.toPath, StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: IOException if f.isDirectory => () }
}
