package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The dev main's three modes cover what the removed per-tool mains and
  * library debug switches did, observing runs only through listeners that
  * leave the session as they found it.
  */
class DevSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The listeners on the session's bus that Spark did not add itself
    * (read through a private Spark accessor; Spark registers one more
    * streaming bus of its own per stream started). */
  private def sparkListeners: Set[AnyRef] = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala.toSet
      .filterNot(_.getClass.getName.startsWith("org.apache.spark."))
  }

  /** Runs one mode and returns what it printed; asserts the session's
    * listeners and active streams are as before. */
  private def dev(args: String*): String = {
    val listeners = sparkListeners
    val streamListeners = spark.streams.listListeners().toSet
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Dev.run(spark, TestSpark.SF, args.toList))
    assert(sparkListeners == listeners, "a Spark listener was left attached")
    assert(spark.streams.listListeners().toSet == streamListeners,
      "a streaming listener was left attached")
    assert(spark.streams.active.isEmpty, "a stream was left running")
    out.toString(StandardCharsets.UTF_8)
  }

  test("explain writes one file per row, with the micro-batch plans of a stream row") {
    val dir = Files.createTempDirectory("graft-dev-explain")
    try {
      dev("explain", dir.toString, "q1_agg,stream_win_tb_sliding_ffat_append")
      val files = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
      assert(files == Set("q1_agg_before.txt", "stream_win_tb_sliding_ffat_append_before.txt"))
      def read(f: String) =
        new String(Files.readAllBytes(dir.resolve(f)), StandardCharsets.UTF_8)
      assert(read("q1_agg_before.txt").contains("== Physical Plan =="))
      val stream = read("stream_win_tb_sliding_ffat_append_before.txt")
      // the result alone is a memory-sink scan; the operator is in the batch plan
      assert(stream.contains("== Micro-batch ") && stream.contains("FlatMapGroupsWithState"),
        stream.take(3000))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("profile prints the job table and driver gap, and a stream row's batch durations") {
    val out = dev("profile", "q1_agg,stream_win_tb_tumbling")
    val sections = out.split("==== ").filter(_.nonEmpty)
    assert(sections.length == 2, out)
    val (batch, stream) = (sections(0), sections(1))
    assert(batch.startsWith("q1_agg: median total") && batch.contains("driver gap"), out)
    assert(batch.linesIterator.exists(_.trim.startsWith("job ")), out)
    assert(stream.startsWith("stream_win_tb_tumbling:"), out)
    assert(stream.contains("durations={") && stream.contains("addBatch="), out)
  }

  test("floor runs Bench's floor shape and prints its phases and batches") {
    val out = dev("floor", "agg", "1")
    assert(out.contains("build") && out.contains("run") && out.contains("read") &&
      out.contains("start latency"), out)
    assert(out.linesIterator.exists(_.contains(" batch ")), out)
  }

  test("unknown arguments fail with the usage line") {
    val e = intercept[IllegalArgumentException](Dev.run(spark, TestSpark.SF, List("nope")))
    assert(e.getMessage == Dev.usage)
  }
}
