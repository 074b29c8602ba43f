package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, window}
import org.apache.spark.sql.streaming.Trigger

/** Dev probe for the streaming fixed floor (r16 judge #1): decomposes one
  * AvailableNow run of a zero-surviving-row streaming query into its
  * lifecycle phases — plan build, writer start (checkpoint + source init +
  * first offset latch), awaitTermination (micro-batch execution), table
  * read — plus the per-batch durationMs breakdown Spark's progress
  * reporter records (addBatch, queryPlanning, walCommit, …).
  *
  * Usage: sbt "runMain graft.StreamFloorProbe [variant] [iters]"
  * Not part of the driver contract; prints human-readable lines only.
  */
object StreamFloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val variant = args.headOption.getOrElse("agg")
    val iters = args.drop(1).headOption.map(_.toInt).getOrElse(6)
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-floor"),
      shufflePartitions = cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val sp: SparkSession = spark

    def floorDf(): DataFrame = variant match {
      case "agg" => // the bench's floor query: watermark + windowed agg, zero rows survive
        graft.streaming.StreamSources.eventsWithTime(spark, sfDir)
          .withWatermark("event_time", "1 hour")
          .filter(col("event_id") < 0)
          .groupBy(window(col("event_time"), "1 hour"))
          .agg(count(lit(1)).as("n"))
      case "stateless" => // no state store, no watermark: pure source+sink floor
        graft.streaming.StreamSources.eventsWithTime(spark, sfDir)
          .filter(col("event_id") < 0)
          .select(col("event_id"))
      case other => sys.error(s"unknown variant $other")
    }
    var n = 0
    (0 until iters).foreach { i =>
      n += 1
      val name = s"floor_probe_$n"
      val t0 = System.nanoTime()
      val df = floorDf()
      val t1 = System.nanoTime()
      val (q, t2, t3, t4) = graft.streaming.StreamRun.withCheckpoint(None, name) { ckpt =>
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
          sys.env.getOrElse("FLOOR_PARTS", "4"))
        val q = df.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        val t2 = System.nanoTime()
        q.awaitTermination()
        val t3 = System.nanoTime()
        spark.table(name).count()
        (q, t2, t3, System.nanoTime())
      }
      val t5 = System.nanoTime()
      def ms(a: Long, b: Long): Double = (b - a) / 1e6
      println(f"[$i] total ${ms(t0, t5)}%8.1f ms = build ${ms(t0, t1)}%7.1f + start ${ms(t1, t2)}%7.1f + await ${ms(t2, t3)}%7.1f + read ${ms(t3, t4)}%6.1f + rm ${ms(t4, t5)}%5.1f")
      q.recentProgress.foreach { p =>
        println(f"      batch ${p.batchId}%2d rows=${p.numInputRows}%5d durations=${p.durationMs}")
      }
    }
    spark.stop()
  }
}
