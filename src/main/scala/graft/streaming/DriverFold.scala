package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.Commit

/** DRIVER-side cross-batch fold state — the shape every
  * sketch-at-ingestion operator shares (incremental heavy hitters, KMV
  * distinct counting, bottom-k sampling, histogram profiling): each
  * micro-batch reduces IN THE CLUSTER to a bounded summary (one
  * aggregation row / ≤ k rows), which then merges into running driver
  * state with the sketch's own mergeable combine. The state is
  * O(sketch) bytes however long the stream runs — but it lives on the
  * driver, so without persistence a restart would silently forget every
  * batch the checkpoint's offset log says are done.
  *
  * [[fold]] owns the whole exactly-once-on-restart protocol, so no
  * operator re-implements it: resume from the newest persisted fold,
  * skip every replayed batch id at or below it, and after merging batch
  * b persist (b, state) as `fold-<b>.bin` in `stateDir` (any Hadoop
  * URI) through [[graft.Commit.writeFile]], which makes it durable and
  * visible. Either crash window is safe: before the state write, the
  * replayed batch re-merges from the previous fold (the partial never
  * persisted); after it, the id check skips the merge (the offset
  * commit is the only thing the crash lost). All but the newest two
  * files are pruned on each save.
  *
  * State files are written by the one type-directed [[StateCodec]]: the
  * header names the state's shape and a CRC32 trails the payload, so a
  * file decodes only into the state type the fold declares, and a
  * truncated or corrupt file fails the resume loudly — it never resumes
  * from empty.
  */
object DriverFold {

  /** Binary codec for fold state, resolved from the state's static type
    * — decoding can only build the values the fold declares, never an
    * arbitrary class. `shape` is written into each file's header and
    * checked on load. */
  trait StateCodec[S] {
    def shape: String
    def write(out: DataOutputStream, s: S): Unit
    def read(in: DataInputStream): S
  }

  object StateCodec {
    private def of[S](sh: String)(w: (DataOutputStream, S) => Unit,
        r: DataInputStream => S): StateCodec[S] = new StateCodec[S] {
      val shape = sh
      def write(out: DataOutputStream, s: S): Unit = w(out, s)
      def read(in: DataInputStream): S = r(in)
    }

    private def writeBytes(out: DataOutputStream, b: Array[Byte]): Unit = {
      out.writeInt(b.length); out.write(b)
    }

    private def readBytes(in: DataInputStream): Array[Byte] = {
      val b = new Array[Byte](in.readInt()); in.readFully(b); b
    }

    implicit val long: StateCodec[Long] = of[Long]("J")(_.writeLong(_), _.readLong())
    implicit val double: StateCodec[Double] =
      of[Double]("D")(_.writeDouble(_), _.readDouble())
    implicit val string: StateCodec[String] = of[String]("S")(
      (o, s) => writeBytes(o, s.getBytes(UTF_8)), i => new String(readBytes(i), UTF_8))
    implicit val bigInt: StateCodec[BigInt] = of[BigInt]("I")(
      (o, v) => writeBytes(o, v.toByteArray), i => BigInt(readBytes(i)))

    implicit def tuple2[A, B](implicit a: StateCodec[A],
        b: StateCodec[B]): StateCodec[(A, B)] =
      of[(A, B)](s"(${a.shape},${b.shape})")(
        (o, t) => { a.write(o, t._1); b.write(o, t._2) },
        i => { val x = a.read(i); (x, b.read(i)) })

    implicit def tuple3[A, B, C](implicit a: StateCodec[A], b: StateCodec[B],
        c: StateCodec[C]): StateCodec[(A, B, C)] =
      of[(A, B, C)](s"(${a.shape},${b.shape},${c.shape})")(
        (o, t) => { a.write(o, t._1); b.write(o, t._2); c.write(o, t._3) },
        i => { val x = a.read(i); val y = b.read(i); (x, y, c.read(i)) })

    implicit def hashMap[K, V](
        implicit e: StateCodec[(K, V)]): StateCodec[mutable.HashMap[K, V]] =
      growable[(K, V), mutable.HashMap[K, V]](e, mutable.HashMap.empty)

    implicit def treeSet[A: Ordering](
        implicit e: StateCodec[A]): StateCodec[mutable.TreeSet[A]] =
      growable[A, mutable.TreeSet[A]](e, mutable.TreeSet.empty)

    private def growable[A, C <: mutable.Growable[A] with Iterable[A]](
        e: StateCodec[A], empty: => C): StateCodec[C] =
      of[C](s"${empty.getClass.getSimpleName}[${e.shape}]")(
        (o, c) => { o.writeInt(c.size); c.foreach(e.write(o, _)) },
        i => {
          val c = empty
          var n = i.readInt()
          while (n > 0) { c += e.read(i); n -= 1 }
          c
        })
  }

  /** Fold `stream` to completion (AvailableNow) into driver state:
    * `merge` folds one micro-batch into the state and returns it (a
    * mutable sketch may merge in place and return itself); `onBatch`
    * observes the state after every batch, replayed ones included. With
    * `stateDir` set, the fold resumes from and persists to it under the
    * protocol above. An explicit `checkpoint` (the restart path) is kept;
    * without one the query runs on a throwaway checkpoint.
    */
  def fold[S](stream: DataFrame, init: S, checkpoint: Option[String],
      stateDir: Option[String])(merge: (S, Dataset[Row]) => S,
      onBatch: S => Unit)(
      implicit codec: StateCodec[S], spark: SparkSession): S = {
    val store = stateDir.map { d => val p = new Path(d); (Commit.fs(spark, p), p) }
    val resumed = store.flatMap { case (fs, d) => loadLatest[S](fs, d) }
    var state = resumed.fold(init)(_._2)
    var lastBatch = resumed.fold(-1L)(_._1)
    StreamRun.withCheckpoint(checkpoint, "graft_fold") { ckpt =>
      stream.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          // a replayed id at or below the persisted fold is already IN
          // the state (the crash fell between the state write and the
          // offset commit) — merging again would double-count
          if (batchId > lastBatch) {
            state = merge(state, batch)
            lastBatch = batchId
            store.foreach { case (fs, d) => save(fs, d, batchId, state) }
          }
          onBatch(state)
          ()
        }
        .start().awaitTermination()
    }
    state
  }

  private val Magic = 0x47524644 // "GRFD"

  private def foldFile(dir: Path, b: Long) = new Path(dir, s"fold-$b.bin")

  private def crc32(b: Array[Byte], n: Int): Long = {
    val c = new java.util.zip.CRC32(); c.update(b, 0, n); c.getValue
  }

  private def save[S](fs: FileSystem, dir: Path, batchId: Long, state: S)(
      implicit codec: StateCodec[S]): Unit = {
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    out.writeInt(Magic); out.writeUTF(codec.shape); out.writeLong(batchId)
    codec.write(out, state)
    out.writeLong(crc32(buf.toByteArray, buf.size))
    Commit.writeFile(fs, foldFile(dir, batchId), buf.toByteArray)
    Commit.prune(fs, dir, "fold-", ".bin", keep = 2)
  }

  private def loadLatest[S](fs: FileSystem, dir: Path)(
      implicit codec: StateCodec[S]): Option[(Long, S)] =
    Commit.numbered(fs, dir, "fold-", ".bin").lastOption.map { b =>
      val f = foldFile(dir, b)
      def corrupt(why: String) = new IllegalStateException(
        s"fold state $f is unreadable ($why); refusing to resume from it")
      val bytes = Commit.readFile(fs, f).getOrElse(Array.emptyByteArray)
      if (bytes.length < 8) throw corrupt("truncated")
      if (crc32(bytes, bytes.length - 8) != ByteBuffer.wrap(bytes, bytes.length - 8, 8).getLong)
        throw corrupt("checksum mismatch: truncated or corrupt")
      val in = new DataInputStream(
        new ByteArrayInputStream(bytes, 0, bytes.length - 8))
      if (in.readInt() != Magic) throw corrupt("not a fold state file")
      val shape = in.readUTF()
      if (shape != codec.shape)
        throw corrupt(s"holds state of shape $shape, expected ${codec.shape}")
      if (in.readLong() != b) throw corrupt("batch id disagrees with file name")
      val state = codec.read(in)
      if (in.available() != 0) throw corrupt("trailing bytes")
      (b, state)
    }
}
