package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming._

/** Cross-micro-batch state semantics, driven by MemoryStream chunks — the
  * analog of the reference's win_tests/graph_tests scenarios where input
  * arrives in arbitrary batch splits but per-key results must be stable
  * (/root/reference/tests/win_tests/, FIXTURES.md §2).
  */
class StatefulStreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def evRows: Seq[EvRow] = {
    import spark.implicits._
    Tables.events(spark, TestSpark.SF)
      .selectExpr("event_id", "user_id", "ts div 1000 AS ts_us",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .as[EvRow].collect().sortBy(e => (e.ts_us, e.event_id)).toSeq
  }

  test("rolling reduce accumulates across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = evRows
    val (first, second) = rows.splitAt(rows.size / 2)
    val mem = MemoryStream[EvRow]
    val out = StatefulOps.rollingReduce(mem.toDS())(spark)
    val q = out.toDF().writeStream.format("memory").queryName("roll_x")
      .outputMode("update").start()
    mem.addData(first); q.processAllAvailable()
    mem.addData(second); q.processAllAvailable()
    q.stop()
    val got = spark.table("roll_x").orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    // batch twin: running decimal sum / count per user ordered by (ts, id)
    val want = rows.groupBy(_.user_id).values.flatMap { es =>
      var (s, c) = (0L, 0L)
      es.sortBy(e => (e.ts_us, e.event_id)).map { e =>
        s += e.cents; c += 1; (e.event_id, s.toDouble / 100.0, c)
      }
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == want)
  }

  test("count windows survive a batch boundary (state carries counter + partials)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = evRows
    val (first, second) = rows.splitAt(rows.size / 3)
    val mem = MemoryStream[EvRow]
    val out = StatefulOps.countTumblingWindows(mem.toDS(), len = 100L)(spark)
    val q = out.toDF().writeStream.format("memory").queryName("cb_x")
      .outputMode("update").start()
    mem.addData(first); q.processAllAvailable()
    mem.addData(second); q.processAllAvailable()
    q.stop()
    // last emission per (user, wid) is the final window state
    val got = spark.table("cb_x").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    val want = rows.groupBy(_.user_id).flatMap { case (u, es) =>
      es.sortBy(e => (e.ts_us, e.event_id)).zipWithIndex
        .groupBy { case (_, i) => i / 100 }
        .map { case (wid, ws) =>
          val cents = ws.map(_._1.cents).sum
          (u, wid.toLong) -> (ws.size.toLong, cents.toDouble / 100.0,
            ws.map(_._1.event_id).min, ws.map(_._1.event_id).max)
        }
    }
    assert(got == want)
  }

  test("streaming FlatFAT windows converge across a batch boundary") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    val lenUs = 3600L * 1000000L
    val slideUs = 900L * 1000000L
    val rows = evRows.map(e => FfatIn(e.user_id.toString, e.ts_us, e.cents))
    val (first, second) = rows.splitAt(rows.size / 2)
    val mem = MemoryStream[FfatIn]
    val out = StatefulOps.slidingWindowsFfat(mem.toDS(), lenUs, slideUs)
    val q = out.toDF().writeStream.format("memory").queryName("ffat_stream_x")
      .outputMode("update").start()
    mem.addData(first); q.processAllAvailable()
    mem.addData(second); q.processAllAvailable()
    q.stop()
    // update stream: the FINAL emission per (key, window) — the one with
    // the maximal cnt, since a window only gains rows — must equal the
    // batch kernel over the full input
    val got = spark.table("ffat_stream_x").collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    val want = rows.groupBy(_.key).toSeq.flatMap { case (k, es) =>
      graft.operators.FlatFatWindows.windows(
        es.map(_.ts_us).toArray, es.map(_.cents).toArray, lenUs, slideUs)
        .toSeq.map(w => (k, w.winStartUs) -> (w.cnt, w.sum, w.min, w.max))
    }.toMap
    assert(got == want)
  }

  test("as-of join finalizes on watermark: a late earlier-ts right still wins") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def in(id: Long, user: Long, ms: Long, v: Double, left: Boolean) =
      AsofIn(id, user, ms * 1000L, v, left, new java.sql.Timestamp(ms))
    val mem = MemoryStream[AsofIn]
    val out = StatefulOps.asofJoinShared(
      mem.toDS().withWatermark("event_time", "10 seconds"))(spark)
    val q = out.toDF().writeStream.format("memory").queryName("asof_x")
      .outputMode("append").start()
    // batch 1: right r1@1s, left L@5s — watermark (max 5s − 10s) has not
    // passed L, so NOTHING may be emitted yet: emitting now would lock in
    // r1 as "latest" while an earlier-ts right can still arrive
    mem.addData(in(10, 1, 1000, 1.0, left = false), in(20, 1, 5000, 99.0, left = true))
    q.processAllAvailable()
    assert(spark.table("asof_x").isEmpty,
      "left emitted before its watermark — late rights can still change the answer")
    // batch 2: r2@4s arrives LATE (after L) but has the later at-or-before
    // ts; a far-future right on another key pushes the watermark past L,
    // whose EventTimeTimeout timer then fires in a no-data batch
    mem.addData(in(11, 1, 4000, 2.0, left = false), in(30, 2, 100000, 0.0, left = false))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_x").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4))).toSeq
    assert(got == Seq((20L, 1L, 4000000L, 2.0)),
      s"expected L matched to the late r2@4s, got $got")
  }

  test("shared-scan interval join: one source scan, same rows as the symmetric join") {
    import spark.implicits._
    implicit val sp = spark
    val dir = TestSpark.SF
    val bound = 30L * 60L * 1000000L

    // declared (single-scan) form; event_time survives the select so the
    // watermark attribute is not pruned (ScaleStressSpec finding)
    val tagged = StreamSources.eventsWithTime(spark, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .withWatermark("event_time", "1 hour")
      .selectExpr("event_id", "user_id", "ts_us", "value",
        "event_type = 'purchase' AS isLeft", "event_time").as[IjIn]
    val shared = StatefulOps.intervalJoinShared(tagged, bound).toDF()

    // plan property: the self-join rewrite reads the source ONCE
    def scans(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect {
        case r if r.nodeName.contains("StreamingRelation") => r
      }.size
    assert(scans(shared) == 1, "shared form must plan exactly one source scan")

    // Spark's symmetric watermarked stream-stream join — the plan for
    // genuinely distinct sources; reads the source once PER SIDE
    val e = StreamSources.eventsWithTime(spark, dir)
    val a = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("a_id"), col("user_id"),
        col("event_time").as("a_time"), col("value").as("a_value"))
      .withWatermark("a_time", "1 hour")
    val b = e.filter(col("event_type") === "click")
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("event_time").as("b_time"), col("value").as("b_value"))
      .withWatermark("b_time", "1 hour")
    val sym = a.join(b,
      expr("user_id = b_user AND b_time BETWEEN a_time - INTERVAL 30 MINUTES" +
        " AND a_time + INTERVAL 30 MINUTES"))
      .select(col("a_id"), col("b_id"), col("user_id"),
        greatest(expr("unix_micros(a_time)"), expr("unix_micros(b_time)")).as("out_ts_us"),
        (col("a_value") + col("b_value")).as("pair_value"))
    assert(scans(sym) == 2, "symmetric self-join plans one scan per side")

    val gotShared = StreamRun.toBatch(shared, "append", numPartitions = 4)
      .orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
    val gotSym = StreamRun.toBatch(sym, "append", numPartitions = 4)
      .orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
    assert(gotShared.nonEmpty && gotShared == gotSym,
      s"shared-scan join (${gotShared.size} rows) must equal symmetric join (${gotSym.size})")
  }

  test("DP-mode interval join: buckets split a key's state and expired buckets self-evict") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    val W = 10L * 1000000L // 10 s buckets = bound
    def in(id: Long, user: Long, tsUs: Long, v: Double, left: Boolean) =
      IjTIn(id, user, tsUs, v, left, new java.sql.Timestamp(tsUs / 1000L))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ijdp_").toString
    val mem = MemoryStream[IjTIn]
    val q = StatefulOps.intervalJoinBucketed(
      mem.toDS().withWatermark("event_time", "0 seconds"), W, W).toDF()
      .writeStream.format("memory").queryName("ijdp_x")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // key 1: rows in three different buckets; only (5s L, 12s R) pair
    mem.addData(in(1, 1, 5_000_000L, 1.0, left = true),
      in(2, 1, 12_000_000L, 2.0, left = false),
      in(3, 1, 25_000_000L, 4.0, left = true))
    q.processAllAvailable()
    val pairs = spark.table("ijdp_x").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSeq
    assert(pairs == Seq((1L, 2L, 3.0)), s"expected exactly one cross-bucket pair, got $pairs")
    // the key's rows live under MULTIPLE (key, bucket) state groups — the
    // intra-key slicing the reference's DP mode provides
    val bucketsBefore = stateStore(ckpt).collect().map { r =>
      val k = r.getStruct(r.fieldIndex("key")); (k.getLong(0), k.getLong(1))
    }.toSet
    assert(bucketsBefore.map(_._2).size >= 3,
      s"expected the key sliced across >=3 buckets, got $bucketsBefore")
    // far-future row on another key: watermark passes every key-1 bucket's
    // (bucket+1)*W + bound timer → the groups remove themselves
    mem.addData(in(9, 2, 3600L * 1000000L, 0.0, left = false))
    q.processAllAvailable()
    val after = stateStore(ckpt).collect().map { r =>
      val k = r.getStruct(r.fieldIndex("key")); k.getLong(0)
    }.toSeq
    q.stop()
    assert(!after.contains(1L), s"expired buckets must self-evict, state keys: $after")
  }

  test("DP-mode interval join equals the pinned-key form on the events table") {
    implicit val sp = spark
    import spark.implicits._
    val bound = 30L * 60L * 1000000L
    def tagged = StreamSources.eventsWithTime(spark, TestSpark.SF)
      .filter(col("event_type").isin("purchase", "click"))
      .withWatermark("event_time", "1 hour")
    val pinned = StatefulOps.intervalJoinShared(
      tagged.selectExpr("event_id", "user_id", "ts_us", "value",
        "event_type = 'purchase' AS isLeft", "event_time").as[IjIn], bound)
    val dp = StatefulOps.intervalJoinBucketed(
      tagged.selectExpr("event_id", "user_id", "ts_us", "value",
        "event_type = 'purchase' AS isLeft", "event_time").as[graft.streaming.IjTIn],
      bound, bucketUs = bound)
    val a = StreamRun.toBatch(pinned.toDF(), "append", numPartitions = 4)
      .orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
    val b = StreamRun.toBatch(dp.toDF(), "append", numPartitions = 4)
      .orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b,
      s"DP (${b.size} rows) must equal pinned-key (${a.size} rows)")
  }

  test("EOS-punctuated declared queries plan exactly ONE streaming scan") {
    // the sentinel must come from the same scan (withEosSentinel explode),
    // never a second readStream union — that shape doubles ingest I/O
    def scans(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect {
        case r if r.nodeName.contains("StreamingRelation") => r
      }.size
    graft.queries.StreamingQueries.appendTwinStreams(spark, TestSpark.SF).foreach {
      case (name, df) =>
        assert(scans(df) == 1, s"$name plans ${scans(df)} streaming scans, expected 1")
    }
  }

  /** State rows of the (single) stateful operator at a checkpoint, via the
    * state data source. */
  private def stateStore(ckpt: String) =
    spark.read.format("statestore").load(ckpt)

  test("watermarked FlatFAT stream holds pane partials and purges panes older than wm - 2*len") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    val lenUs = 10L * 1000000L // 10 s windows, 5 s slide → g = 5 s panes
    val slideUs = 5L * 1000000L
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ffat_purge_").toString
    val mem = MemoryStream[FfatIn]
    val in = mem.toDS()
      .withColumn("event_time", expr("timestamp_micros(ts_us)"))
      .withWatermark("event_time", "0 seconds")
      .as[FfatIn]
    val q = StatefulOps.slidingWindowsFfat(in, lenUs, slideUs).toDF()
      .writeStream.format("memory").queryName("ffat_purge_x")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    val t0 = 1600000000000000L // a multiple of the 5 s pane
    mem.addData(FfatIn("a", t0, 1L), FfatIn("a", t0 + 1000000L, 2L),
      FfatIn("a", t0 + 2000000L, 3L))
    q.processAllAvailable() // watermark after this batch: t0 + 2 s
    val jump = t0 + 3600L * 1000000L
    mem.addData(FfatIn("a", jump, 4L))
    q.processAllAvailable() // wm during batch: t0+2s (keeps the t0 pane); after: jump
    // flatMapGroupsWithState state schema: value.groupState.<fields>;
    // returns the (anchor → cnt) pane map of the single state row
    def statePanes: Map[Long, Long] = {
      val rows = stateStore(ckpt).collect()
      assert(rows.nonEmpty, "no state rows read from checkpoint")
      val r = rows.head
      val v = r.getStruct(r.fieldIndex("value"))
      val gs = v.getStruct(v.schema.fieldNames.indexOf("groupState"))
      val anchors = gs.getSeq[Long](gs.schema.fieldNames.indexOf("paneTs"))
      val cnts = gs.getSeq[Long](gs.schema.fieldNames.indexOf("cnt"))
      anchors.zip(cnts).toMap
    }
    // the pane-stage bound: 4 buffered ROWS collapse to 2 pane partials
    // (the three t0-pane rows fold into one (cnt=3) leaf)
    assert(statePanes == Map(t0 -> 3L, jump -> 1L),
      s"expected 2 pane partials {t0->3, jump->1} pre-purge, got $statePanes")
    mem.addData(FfatIn("a", jump + 1000000L, 5L))
    q.processAllAvailable() // wm during batch: jump → purge panes < jump - 2*len
    q.stop()
    // the t0 pane is anchored older than wm − 2·len: every window it
    // belongs to starts at-or-before its anchor, below any window a
    // future (≥ wm) row touches → purged; jump+1s folds into the jump pane
    assert(statePanes == Map(jump -> 2L),
      s"expected purge to keep one pane {jump->2}, got $statePanes")
  }

  test("ffat append twin fires each window once on watermark and evicts dead panes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    val lenUs = 10L * 1000000L // 10 s windows, 5 s slide
    val slideUs = 5L * 1000000L
    def in(key: String, tsUs: Long, cents: Long) =
      FfatInT(key, tsUs, cents, new java.sql.Timestamp(tsUs / 1000L))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ffat_append_").toString
    val mem = MemoryStream[FfatInT]
    val out = StatefulOps.slidingWindowsFfatAppend(
      mem.toDS().withWatermark("event_time", "0 seconds"), lenUs, slideUs)
    val q = out.toDF().writeStream.format("memory").queryName("ffat_append_x")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val t0 = 1600000000000000L // multiple of the 5 s pane
    mem.addData(in("a", t0, 10L), in("a", t0 + 1000000L, 30L),
      in("a", t0 + 6000000L, 20L))
    q.processAllAvailable()
    // watermark after batch 1 = t0+6s: no window end (earliest t0-5s+10s =
    // t0+5s... windows [t0-5s,t0+5s) end t0+5s ≤ wm) — that one FIRES; the
    // rest ([t0,t0+10s), [t0+5s,t0+15s)) are pending
    val afterB1 = spark.table("ffat_append_x").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(afterB1 == Seq((t0 - 5000000L, 2L, 40L, 10L, 30L)),
      s"only the wm-passed window may fire in batch 1, got $afterB1")
    // far-future row on another key pushes the watermark past everything;
    // key a's timers fire in a no-data batch and its state evicts fully
    mem.addData(in("z", t0 + 3600L * 1000000L, 0L))
    q.processAllAvailable()
    val all = spark.table("ffat_append_x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val aRows = all.filter(_._1 == "a").map(t => (t._2, t._3, t._4, t._5, t._6)).sortBy(_._1)
    val want = graft.operators.FlatFatWindows.windows(
      Array(t0, t0 + 1000000L, t0 + 6000000L), Array(10L, 30L, 20L), lenUs, slideUs)
      .map(w => (w.winStartUs, w.cnt, w.sum, w.min, w.max)).toSeq.sortBy(_._1)
    assert(aRows == want, s"append emissions $aRows != batch kernel $want")
    assert(all.count(_._1 == "a") == aRows.distinct.size, "a window re-emitted")
    // eviction: key a's panes are all dead (wm >> anchor + len) → only
    // key z's state row remains
    val keys = stateStore(ckpt).collect().map { r =>
      val k = r.getStruct(r.fieldIndex("key"))
      k.getString(0)
    }.toSeq
    q.stop()
    assert(keys == Seq("z"), s"expected only z in state, got $keys")
  }

  test("ffat append twin survives a slide that does not divide len (pane last-window bound)") {
    // regression (round-7 review): a pane's LAST window ends at
    // floorDiv(anchor, slide)*slide + len, strictly before anchor + len
    // when slide ∤ len — purging on anchor + len kept dead panes whose
    // pending-window-end set was empty and crashed the timer min
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    val lenUs = 60L * 1000000L
    val slideUs = 25L * 1000000L // gcd = 5 s panes; slide does not divide len
    def in(key: String, tsUs: Long, cents: Long) =
      FfatInT(key, tsUs, cents, new java.sql.Timestamp(tsUs / 1000L))
    val mem = MemoryStream[FfatInT]
    val q = StatefulOps.slidingWindowsFfatAppend(
      mem.toDS().withWatermark("event_time", "0 seconds"), lenUs, slideUs).toDF()
      .writeStream.format("memory").queryName("ffat_nondiv_x")
      .outputMode("append").start()
    val t0 = 1600000000000000L // multiple of 25 s
    mem.addData(in("a", t0 + 37L * 1000000L, 5L))
    q.processAllAvailable()
    // advance the watermark far past every window end; key a's timers must
    // fire and its state fully evict without the empty-min crash
    mem.addData(in("z", t0 + 3600L * 1000000L, 0L))
    q.processAllAvailable()
    q.stop()
    val aRows = spark.table("ffat_nondiv_x").collect()
      .filter(_.getString(0) == "a")
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sortBy(_._1)
    spark.sql("DROP TABLE IF EXISTS ffat_nondiv_x")
    val want = graft.operators.FlatFatWindows.windows(
      Array(t0 + 37L * 1000000L), Array(5L), lenUs, slideUs)
      .map(w => (w.winStartUs, w.cnt, w.sum)).toSeq.sortBy(_._1)
    assert(aRows == want, s"append emissions $aRows != batch kernel $want")
  }

  test("ffat append sub-key salting (DP mode) is result-identical at S in {1, 4}") {
    // the flatMapGroupsWithState analog of the reference's intra-key
    // slicing (wf/interval_join.hpp:314-322): rows group by (key, salt),
    // each salt fires partial windows exactly once, and the final merge is
    // a narrow stateless groupBy over ≤ S rows per (key, window). Run on
    // the sf0.01 events table end-to-end.
    implicit val sp = spark
    val dir = TestSpark.SF
    def run(salts: Int): Seq[Seq[Any]] = {
      val stream = graft.queries.StreamingQueries.ffatAppendStream(spark, dir, salts)
      val merged =
        if (salts == 1) StreamRun.toBatch(stream, "append", numPartitions = 4)
        else {
          // the merge stage is a complete-mode agg with NO event-time
          // column, so Spark's conservative chained-stateful watermark
          // check does not apply (nothing downstream filters late rows);
          // see slidingWindowsFfatAppend scaladoc
          val conf = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
          val prev = spark.conf.get(conf)
          spark.conf.set(conf, "false")
          try StreamRun.toBatch(
            stream.groupBy("event_type", "win_start_us")
              .agg(sum("cnt").as("cnt"), sum("sum_cents").as("sum_cents"),
                min("min_cents").as("min_cents"), max("max_cents").as("max_cents")),
            "complete", numPartitions = 4)
          finally spark.conf.set(conf, prev)
        }
      merged.orderBy("event_type", "win_start_us").collect().map(_.toSeq).toSeq
    }
    val s1 = run(1)
    val s4 = run(4)
    assert(s1.nonEmpty, "empty result")
    assert(s1 == s4, s"salted result diverged: S=1 has ${s1.size} rows, S=4 has ${s4.size}")
  }

  private def ffatT(key: String, tsUs: Long, cents: Long) =
    FfatInT(key, tsUs, cents, new java.sql.Timestamp(tsUs / 1000L))

  /** Runs the ffat append twin (0 s watermark delay) over `batches`, one
    * MemoryStream chunk each, read in `parts` partitions; returns the
    * emitted (key, win_start_us, cnt, sum, min, max) rows, sorted, and the
    * partials the late-event filter dropped. */
  private def ffatAppendRun(name: String, lenUs: Long, slideUs: Long,
      batches: Seq[Seq[FfatInT]], parts: Int = 1)
      : (Seq[(String, Long, Long, Long, Long, Long)], Long) = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    val mem = MemoryStream[FfatInT](parts)
    val q = StatefulOps.slidingWindowsFfatAppend(
      mem.toDS().withWatermark("event_time", "0 seconds"), lenUs, slideUs).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq.sorted
    spark.sql(s"DROP TABLE IF EXISTS $name")
    (rows, q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum)
  }

  private def kernel(key: String, rows: Seq[(Long, Long)], lenUs: Long, slideUs: Long) =
    graft.operators.FlatFatWindows.windows(
      rows.map(_._1).toArray, rows.map(_._2).toArray, lenUs, slideUs)
      .map(w => (key, w.winStartUs, w.cnt, w.sum, w.min, w.max)).toSeq.sorted

  test("ffat append: a row behind the watermark in a pane that has not ended counts, once") {
    val (lenUs, slideUs) = (10L * 1000000L, 5L * 1000000L) // 5 s panes
    val t0 = 1600000000000000L // a multiple of the 5 s pane
    // batch 1 leaves the watermark at t0+4s; batch 2's row at t0+3s is
    // behind it, but its pane [t0, t0+5s) ends after it, so none of the
    // pane's windows has fired; batch 3 pushes the watermark past them all
    val (rows, dropped) = ffatAppendRun("ffat_late_open_x", lenUs, slideUs, Seq(
      Seq(ffatT("a", t0 + 4000000L, 10L)),
      Seq(ffatT("a", t0 + 3000000L, 20L)),
      Seq(ffatT("z", t0 + 100000000L, 0L))))
    val a = rows.filter(_._1 == "a")
    assert(a == kernel("a", Seq(t0 + 3000000L -> 20L, t0 + 4000000L -> 10L), lenUs, slideUs),
      s"the late row must count in both its windows, got $a")
    assert(a.map(_._2).distinct.size == a.size, s"a window was emitted twice: $a")
    assert(dropped == 0L)
  }

  test("ffat append: a row whose pane has ended is dropped, counted, and changes no window") {
    val (lenUs, slideUs) = (10L * 1000000L, 5L * 1000000L)
    val t0 = 1600000000000000L
    // the watermark after batch 1 is t0+6s: batch 2's row at t0+1s lies in
    // the pane [t0, t0+5s), which ended at or before it
    val (rows, dropped) = ffatAppendRun("ffat_late_closed_x", lenUs, slideUs, Seq(
      Seq(ffatT("a", t0 + 6000000L, 10L)),
      Seq(ffatT("a", t0 + 1000000L, 99L)),
      Seq(ffatT("z", t0 + 100000000L, 0L))))
    val a = rows.filter(_._1 == "a")
    assert(a == kernel("a", Seq(t0 + 6000000L -> 10L), lenUs, slideUs),
      s"the closed-pane row changed a window: $a")
    assert(dropped == 1L, s"numRowsDroppedByWatermark = $dropped, expected the one partial")
  }

  test("ffat append output is identical with the source in 1 and in 4 partitions") {
    val (lenUs, slideUs) = (3600L * 1000000L, 900L * 1000000L)
    val rows = evRows.map(e => ffatT(e.user_id.toString, e.ts_us, e.cents))
    // four ts-ordered chunks; every 5th row of a chunk is held back to the
    // next batch, behind its watermark (mostly in panes already ended),
    // and each later batch also gets a row at the start of the pane that
    // holds its watermark (behind it, in a pane still open); a last
    // far-future row fires every window
    val split = rows.grouped((rows.size + 3) / 4).toSeq.map { c =>
      val (held, kept) = c.zipWithIndex.partition(_._2 % 5 == 4)
      (kept.map(_._1), held.map(_._1))
    }
    val batches = split.indices.map { i =>
      split(i)._1 ++ (if (i == 0) Nil else {
        val wmUs = split(i - 1)._1.map(_.ts_us).max
        split(i - 1)._2 :+ ffatT("open", Math.floorDiv(wmUs, slideUs) * slideUs, 7L)
      })
    } :+ (split.last._2 :+ ffatT("~eos", rows.map(_.ts_us).max + 100L * lenUs, 0L))
    val (one, dropped1) = ffatAppendRun("ffat_parts1_x", lenUs, slideUs, batches, parts = 1)
    val (four, dropped4) = ffatAppendRun("ffat_parts4_x", lenUs, slideUs, batches, parts = 4)
    assert(one.count(_._1 == "open") > 0 && dropped1 > 0,
      s"${one.size} windows, $dropped1 partials dropped")
    assert(one == four, s"1 partition: ${one.size} windows, 4 partitions: ${four.size}")
  }

  test("the ffat pane stage shuffles pane partials, not rows") {
    import org.apache.spark.scheduler._
    // one batch of 10,000 rows over 10 keys inside one pane: the map-side
    // pane stage writes at most one partial per (key, input partition)
    val tap = new SparkListener {
      val records = new java.util.concurrent.atomic.AtomicLong()
      val flushed = new java.util.concurrent.CountDownLatch(1)
      @volatile var flushJob = -1
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => records.addAndGet(m.shuffleWriteMetrics.recordsWritten))
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == "ffat-tap-flush"))
          flushJob = js.jobId
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == flushJob) flushed.countDown()
    }
    val (lenUs, slideUs, parts) = (10L * 1000000L, 2L * 1000000L, 4)
    val t0 = 1600000000000000L // a multiple of the 2 s pane
    val rows = (0 until 10000).map(i => ffatT(s"k${i % 10}", t0 + i * 100L, i.toLong))
    val sc = spark.sparkContext
    sc.addSparkListener(tap)
    val out = try {
      val (out, _) = ffatAppendRun("ffat_shuffle_x", lenUs, slideUs, Seq(rows), parts)
      // a marker job's end is delivered after every earlier task end
      sc.setJobGroup("ffat-tap-flush", "flush the listener bus")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      assert(tap.flushed.await(30, java.util.concurrent.TimeUnit.SECONDS))
      out
    } finally sc.removeSparkListener(tap)
    assert(out.isEmpty, "no window has ended yet")
    assert(tap.records.get > 0 && tap.records.get <= 10L * parts,
      s"${tap.records.get} shuffle records written for 10 keys in $parts partitions")
  }

  test("noninc append windows emit once when the watermark passes and evict state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    val H = 3600L * 1000000L // 1 h windows
    def in(user: Long, tsUs: Long, cents: Long) =
      NonincIn(user, (tsUs / H) * H, cents, new java.sql.Timestamp(tsUs / 1000L))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_noninc_").toString
    val mem = MemoryStream[NonincIn]
    val out = StatefulOps.nonincWindowsAppend(
      mem.toDS().withWatermark("event_time", "1 second"), H)
    val q = out.toDF().writeStream.format("memory").queryName("noninc_x")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val t0 = 1600000000000000L
    mem.addData(in(1, t0 + 1000000L, 30L), in(1, t0 + 2000000L, 10L),
      in(1, t0 + 3000000L, 20L))
    q.processAllAvailable()
    assert(spark.table("noninc_x").isEmpty,
      "window emitted before the watermark passed its end")
    // far-future row on ANOTHER key advances the watermark past user 1's
    // window end; its EventTimeTimeout timer fires in a no-data batch
    mem.addData(in(2, t0 + 10L * H, 0L))
    q.processAllAvailable()
    val got = spark.table("noninc_x").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(_._1)
    // sorted buffer [10,20,30]: cnt 3, lower median 20, range 20
    assert(got == Seq((1L, (t0 / H) * H, 3L, 20L, 20L)), s"got $got")
    // eviction: only user 2's still-pending window remains in state
    val keys = stateStore(ckpt).collect().map { r =>
      val k = r.getStruct(r.fieldIndex("key"))
      k.getLong(0)
    }.toSeq
    q.stop()
    assert(keys == Seq(2L), s"expected only the pending key 2 in state, got $keys")
  }

  test("rolling reduce TTL evicts idle keys (fold restarts); pre-TTL state carries") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    def ev(id: Long, user: Long, tsUs: Long, cents: Long) =
      EvRowT(id, user, tsUs, cents, new java.sql.Timestamp(tsUs / 1000L))
    val ttlUs = 60L * 1000000L // 1 min idle TTL
    val mem = MemoryStream[EvRowT]
    val out = StatefulOps.rollingReduceTtl(
      mem.toDS().withWatermark("event_time", "1 second"), ttlUs)
    val q = out.toDF().writeStream.format("memory").queryName("roll_ttl_x")
      .outputMode("update").start()
    val t0 = 1600000000000000L
    mem.addData(ev(1, 1, t0, 100L), ev(2, 1, t0 + 1000000L, 100L))
    q.processAllAvailable()
    // watermark jumps far past t0 + ttl → user 1's idle timer fires, state dropped
    mem.addData(ev(3, 2, t0 + 100L * ttlUs, 50L))
    q.processAllAvailable()
    mem.addData(ev(4, 1, t0 + 100L * ttlUs + 1000000L, 100L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("roll_ttl_x").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSeq.sortBy(_._1)
    // events 1,2 fold normally; event 4 arrives AFTER the idle TTL → the
    // fold restarted from zero (cnt 1, sum 1.00), not carried (cnt 3)
    assert(got == Seq((1L, 1.0, 1L), (2L, 2.0, 2L), (3L, 0.5, 1L), (4L, 1.0, 1L)),
      s"got $got")
  }
}
