package graft.streaming

import java.io.{BufferedOutputStream, File, FileNotFoundException, FileOutputStream, RandomAccessFile}
import java.nio.file.{Files, LinkOption, NoSuchFileException, Path => JPath, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FileStatus, FileSystem, FSDataInputStream,
  FSInputStream, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark `CheckpointFileManager` that serves `file:` checkpoints (and
  * scheme-less ones when the default filesystem is local) with
  * `java.nio`/`java.io` calls only. Any other scheme goes to Spark's own
  * default manager, chosen the way `CheckpointFileManager.create` chooses it.
  *
  * Why: without Hadoop's native library, the local `FileContext` that
  * Spark's default manager writes through starts an OS process for every
  * `chmod` (`RawLocalFileSystem.setPermission`, on each temp-file create)
  * and every `readlink` (`FileUtil.readLink`, on each rename and stream
  * close). Each offset-log entry, commit-log entry and state-store delta
  * paid several of these forks per micro-batch, which was most of a
  * stateful batch's time. `GraftSession.configure` installs this class
  * through `spark.sql.streaming.checkpointFileManagerClass`; executors get
  * it with the Hadoop conf Spark ships with each state-store RDD.
  *
  * The contract is the replaced manager's:
  *  - `createAtomic` writes a hidden temp sibling and publishes it by one
  *    rename. Without `overwriteIfPossible` it hard-links the temp to the
  *    target instead, so an existing target fails the publish with Hadoop's
  *    `FileAlreadyExistsException` (how `HDFSMetadataLog` detects a second
  *    writer) and keeps its bytes; a plain rename would replace it.
  *  - `cancel` and a failed publish leave no temp file behind.
  *  - `list` hides in-flight temp files and the `.<name>.crc` sidecars that
  *    checkpoints written through Hadoop's checksummed local filesystem
  *    carry, so those checkpoints resume under this manager; `delete`
  *    removes a file's sidecar with it, and a publish removes a stale one,
  *    so they still resume under Spark's manager afterwards.
  *  - Like Spark's local manager, nothing is fsynced.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {

  private val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new LocalCheckpointFileManager.NioFiles(path, conf)
    else try new FileContextBasedCheckpointFileManager(path, conf)
    catch {
      case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  private def file(p: Path): File = new File(p.toUri.getPath).getAbsoluteFile

  private def qualified(f: File): Path = new Path("file", null, f.getPath)

  /** Hadoop's checksum sidecar of `f`: `.<name>.crc` beside it. */
  private def sidecar(f: File): JPath = new File(f.getParentFile, s".${f.getName}.crc").toPath

  private def hidden(name: String): Boolean =
    name.startsWith(".") && (name.endsWith(".tmp") || name.endsWith(".crc"))

  private final class NioFiles(root: Path, conf: Configuration) extends CheckpointFileManager {
    private val bufferSize = conf.getInt("io.file.buffer.size", 4096)
    private val blockSize = conf.getLong("fs.local.block.size", 32L << 20)

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = file(p)
      val tmp = new File(target.getParentFile, s".${target.getName}.${UUID.randomUUID()}.tmp")
      new AtomicStream(target, tmp, overwriteIfPossible, bufferSize)
    }

    override def open(p: Path): FSDataInputStream =
      new FSDataInputStream(new BufferedFSInputStream(new FileInput(file(p)), bufferSize))

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val entries = Option(file(p).listFiles())
        .getOrElse(throw new FileNotFoundException(s"$p is not a directory"))
      // an entry deleted since the listing is skipped, as Hadoop's local listing does
      entries.filterNot(f => hidden(f.getName)).flatMap { f =>
        try {
          val a = Files.readAttributes(f.toPath, classOf[BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, blockSize,
            a.lastModifiedTime.toMillis, qualified(f)))
        } catch { case _: NoSuchFileException => None }
      }.filter(s => filter.accept(s.getPath))
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p).toPath)

    override def exists(p: Path): Boolean = file(p).exists()

    override def delete(p: Path): Unit = {
      val f = file(p)
      deleteTree(f.toPath)
      Files.deleteIfExists(sidecar(f))
    }

    private def deleteTree(p: JPath): Unit = {
      if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
        val entries = Files.newDirectoryStream(p)
        try entries.forEach(c => deleteTree(c)) finally entries.close()
      }
      Files.deleteIfExists(p)
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      qualified(file(root))
    }
  }

  /** Writes `tmp`; `close` publishes it as `target`, `cancel` drops it. */
  private final class AtomicStream(target: File, tmp: File, overwrite: Boolean, bufferSize: Int)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(new FileOutputStream(tmp), bufferSize)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(target.toPath, tmp.toPath) catch {
            case e: java.nio.file.FileAlreadyExistsException =>
              throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                s"${e.getFile} already exists")
          }
          Files.deleteIfExists(sidecar(target))
        } finally Files.deleteIfExists(tmp.toPath)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try super.close() catch { case NonFatal(_) => }
        Files.deleteIfExists(tmp.toPath)
      }
    }
  }

  /** Seekable, positionally readable input over a `RandomAccessFile`; a
    * missing file fails the open with `FileNotFoundException`. */
  private final class FileInput(f: File) extends FSInputStream {
    private val raf = new RandomAccessFile(f, "r")
    override def seek(pos: Long): Unit = raf.seek(pos)
    override def getPos: Long = raf.getFilePointer
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = raf.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int = raf.read(b, off, len)
    override def close(): Unit = raf.close()
  }
}
