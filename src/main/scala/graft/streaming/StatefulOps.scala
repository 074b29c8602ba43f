package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Typed event row shared by the stateful streaming operators (the
  * engine's analog of the reference test tuple
  * `tuple_t{key,id,value}` — tests/win_tests/win_common.hpp:40-57).
  */
case class EvRow(event_id: Long, user_id: Long, ts_us: Long, cents: Long)

/** Rolling-reduce state/output (wf/reduce.hpp: per-key fold state). */
case class RollState(sumCents: Long, cnt: Long)
case class RollOut(event_id: Long, user_id: Long, running_sum: Double, running_cnt: Long)

/** Interval-join input: one tagged side of a split stream (isLeft =
  * reference side A). */
case class IjIn(event_id: Long, user_id: Long, ts_us: Long, value: Double,
    isLeft: Boolean)
case class IjOut(a_id: Long, b_id: Long, user_id: Long, out_ts_us: Long,
    pair_value: Double)
/** Buffered (id, ts_us, value) rows per side, newest first. */
case class IjBuf(id: Long, ts_us: Long, value: Double)
case class IjState(left: List[IjBuf], right: List[IjBuf])

// streaming as-of join (lefts awaiting their watermark, buffered rights).
// The input keeps the watermarked `event_time` column: EventTimeTimeout
// requires the watermark attribute to reach the stateful operator.
case class AsofIn(event_id: Long, user_id: Long, ts_us: Long, value: Double,
  isLeft: Boolean, event_time: java.sql.Timestamp)
case class AsofState(lefts: List[IjBuf], rights: List[IjBuf])
case class AsofOut(event_id: Long, user_id: Long, ts_us: Long,
  asof_ts_us: Option[Long], asof_p_value: Option[Double])

/** Non-incremental (full-buffer Iterable) window input/state/output:
  * per-(key, window) cents buffer, order statistics emitted once when the
  * watermark passes the window end. The input keeps the watermarked
  * `event_time` column (EventTimeTimeout needs the watermark attribute).
  */
case class NonincIn(user_id: Long, win_start_us: Long, cents: Long,
    event_time: java.sql.Timestamp)
case class NonincState(cents: Array[Long])
case class NonincOut(user_id: Long, win_start_us: Long, cnt: Long,
    median_cents: Long, range_cents: Long)

/** Rolling-reduce input with the watermark column (TTL flavor). */
case class EvRowT(event_id: Long, user_id: Long, ts_us: Long, cents: Long,
    event_time: java.sql.Timestamp)
case class RollTtlState(sumCents: Long, cnt: Long, lastTsUs: Long)

/** FlatFAT streaming input/state/output: (key, ts, cents) events arrive
  * per key; state holds PANE PARTIALS — parallel arrays of one
  * (anchor_ts, cnt, sum, min, max) summary per gcd(len, slide) pane — and
  * windows are answered from the shared FlatFAT tree kernel over those
  * pane leaves (the reference's pane-stage state bound,
  * /root/reference/wf/paned_windows.hpp:141).
  *
  * STATE-FORMAT BREAK (round 6): this schema replaced the original
  * per-row (ts, vs) buffer. A checkpoint written by the pre-r6 operator
  * fails Spark's state-schema validation on restore with an explicit
  * schema-mismatch error — a continuous deployment upgrading across that
  * boundary must restart the query from a fresh checkpoint (replay from
  * the source), as with any stateful-operator schema migration.
  */
case class FfatIn(key: String, ts_us: Long, cents: Long) extends FfatEvent
case class FfatKeyState(paneTs: Array[Long], cnt: Array[Long], sum: Array[Long],
    mn: Array[Long], mx: Array[Long])
case class FfatStreamOut(event_type: String, win_start_us: Long, cnt: Long,
    sum_cents: Long, min_cents: Long, max_cents: Long)

/** The fields of an input row that the FlatFAT twins' map-side pane
  * stage folds (both [[FfatIn]] and [[FfatInT]] carry them). */
trait FfatEvent {
  def key: String
  def ts_us: Long
  def cents: Long
}

/** [[FfatIn]] + the watermarked event-time column, for the append twin
  * ([[StatefulOps.slidingWindowsFfatAppend]]). It is read by the map-side
  * pane stage, below the exchange, so column pruning cannot strip the
  * watermark attribute; the stateful operator itself sees each pane
  * partial's pane END as its watermarked time (`EventTimeTimeout` requires
  * a watermark attribute there).
  */
case class FfatInT(key: String, ts_us: Long, cents: Long,
    event_time: java.sql.Timestamp) extends FfatEvent

/** One map-side pane partial of the FlatFAT twins: the (cnt, sum, min,
  * max) fold of one input partition's rows of one (key, salt) in the
  * gcd(len, slide) pane anchored at `pane_us` (the reference's PLQ output,
  * wf/paned_windows.hpp:140-141).
  */
case class FfatPane(key: String, salt: Int, pane_us: Long, cnt: Long, sum: Long,
    mn: Long, mx: Long)

/** Append-twin state: the same pane partials plus the emit-once frontier —
  * every window with end ≤ `firedThroughUs` has already been emitted.
  */
case class FfatAppendState(paneTs: Array[Long], cnt: Array[Long], sum: Array[Long],
    mn: Array[Long], mx: Array[Long], firedThroughUs: Long)

/** [[IjIn]] + the watermarked event-time column, input of the DP-mode
  * interval join ([[StatefulOps.intervalJoinBucketed]]): the bucket
  * duplication happens in the Column layer so the watermark attribute
  * survives, and the per-bucket `EventTimeTimeout` cleanup timers need it
  * to reach the operator.
  */
case class IjTIn(event_id: Long, user_id: Long, ts_us: Long, value: Double,
    isLeft: Boolean, event_time: java.sql.Timestamp)

/** [[IjTIn]] + its time-bucket salt (each row appears under two buckets). */
case class IjBIn(event_id: Long, user_id: Long, ts_us: Long, value: Double,
    isLeft: Boolean, event_time: java.sql.Timestamp, bucket: Long)

/** Count-window state: per-key arrival counter + open-window partials
  * keyed by window id (wf/window_structure.hpp:69-80 Triggerer_CB).
  */
case class CbPartial(wid: Long, cnt: Long, sumCents: Long, firstEvent: Long, lastEvent: Long)
case class CbState(counter: Long, open: List[CbPartial])
case class CbOut(user_id: Long, wid: Long, cnt: Long, sum_value: Double,
    first_event: Long, last_event: Long)
case class CbSlideOut(user_id: Long, wid: Long, cnt: Long, sum_value: Double)

/** Stateful streaming operators implemented with `flatMapGroupsWithState`
  * — the operators Structured Streaming lacks natively (SURVEY §4
  * "custom Catalyst work actually required"):
  *
  *  - [[rollingReduce]]: the reference `Reduce` — every input updates the
  *    per-key state and a copy of the state is emitted *per input*
  *    (/root/reference/wf/reduce.hpp:139-158). No Spark aggregation emits
  *    per-input, hence the state operator.
  *  - [[countTumblingWindows]]: count-based windows
  *    (wf/builders.hpp:743 withCBWindows) — Spark `window()` is time-only,
  *    so the per-key arrival index and window partials live in state.
  *
  * Determinism: within each micro-batch the group iterator is sorted by
  * (ts_us, event_id) before folding — the analog of the reference's
  * DETERMINISTIC execution mode (wf/ordering_collector.hpp:24-33); the
  * emitted values are then independent of partitioning and batch split
  * points, which the spec asserts the same way the reference's randomized
  * parallelism tests do.
  *
  * Money is folded in integer cents, so streaming results are bit-equal to
  * the batch DECIMAL-sum twins.
  *
  * Scale: state is per-key and O(1) (rolling) / O(open windows) (CB);
  * with the RocksDB state store provider (GraftSession) this is the exact
  * replacement for the reference's whole `wf/persistent/` P_* family.
  */
object StatefulOps {

  def toEvRows(events: DataFrame)(implicit spark: SparkSession): Dataset[EvRow] = {
    import spark.implicits._
    events.selectExpr("event_id", "user_id", "ts div 1000 AS ts_us",
      "CAST(round(value * 100) AS BIGINT) AS cents").as[EvRow]
  }

  /** Per-key rolling fold, one output per input (reference Reduce). */
  def rollingReduce(ev: Dataset[EvRow])(implicit spark: SparkSession): Dataset[RollOut] = {
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[EvRow], state: GroupState[RollState]) =>
          var s = state.getOption.getOrElse(RollState(0L, 0L))
          val out = it.toSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
            s = RollState(s.sumCents + e.cents, s.cnt + 1)
            RollOut(e.event_id, user, s.sumCents.toDouble / 100.0, s.cnt)
          }
          state.update(s)
          out.iterator
      }
  }

  /** [[rollingReduce]] with watermark-based idle-key eviction. The
    * reference's Reduce keeps every key's fold state forever
    * (/root/reference/wf/reduce.hpp:139-158 — matching default behavior in
    * [[rollingReduce]]), but a 100 TB keyspace needs the choice: a key
    * idle for `ttlUs` of EVENT time (watermark − last event ts > ttl) can
    * be evicted via `EventTimeTimeout`, trading state size for a restart
    * of the fold if the key reappears. Input must carry a watermarked
    * `event_time`.
    */
  def rollingReduceTtl(ev: Dataset[EvRowT], ttlUs: Long)(
      implicit spark: SparkSession): Dataset[RollOut] = {
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[EvRowT], state: GroupState[RollTtlState]) =>
          if (state.hasTimedOut) {
            // idle past the TTL: nothing emitted, fold state dropped
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(RollTtlState(0L, 0L, Long.MinValue))
            val out = it.toSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
              s = RollTtlState(s.sumCents + e.cents, s.cnt + 1,
                math.max(s.lastTsUs, e.ts_us))
              RollOut(e.event_id, user, s.sumCents.toDouble / 100.0, s.cnt)
            }
            state.update(s)
            val wmMs = scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(0L)
            state.setTimeoutTimestamp(math.max((s.lastTsUs + ttlUs) / 1000L, wmMs + 1L))
            out.iterator
          }
      }
  }

  /** Non-incremental (full-buffer Iterable) time windows in the BOUNDED
    * append plan: the reference's Iterable flavor
    * (/root/reference/wf/iterable.hpp:47-55) hands user code the whole
    * window buffer, so per-(key, window) state holds every row — and the
    * reference's firing rule (wf/window_replica.hpp:305,356-408) emits a
    * window exactly once, when the watermark passes its end, then frees
    * the buffer. Here each (key, window) group buffers cents, schedules an
    * `EventTimeTimeout` timer at the window end, and on firing emits the
    * order statistics (count / lower median / range over the sorted
    * buffer) and removes its state.
    *
    * State is bounded by (keys × windows inside the watermark delay) — the
    * complete-mode twin (`stream_win_tb_noninc`) re-emits and retains
    * every window forever, fine for bounded verification only. Late rows
    * (event time behind the watermark) are dropped by the engine's
    * pre-operator late-row filter — the reference's `ignored_tuples`
    * lateness semantics; a window's timer always sits strictly above the
    * current watermark because every buffered row satisfies
    * ts < winEnd ∧ ts ≥ wm.
    */
  def nonincWindowsAppend(ev: Dataset[NonincIn], lenUs: Long)(
      implicit spark: SparkSession): Dataset[NonincOut] = {
    import spark.implicits._
    def stats(user: Long, winStart: Long, cents: Array[Long]): NonincOut = {
      val buf = cents.sorted
      NonincOut(user, winStart, buf.length,
        buf((buf.length + 1) / 2 - 1), buf(buf.length - 1) - buf(0))
    }
    ev.groupByKey(e => (e.user_id, e.win_start_us))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), it: Iterator[NonincIn], state: GroupState[NonincState]) =>
          if (state.hasTimedOut) {
            val out = stats(key._1, key._2, state.get.cents)
            state.remove()
            Iterator.single(out)
          } else {
            val prev = state.getOption.map(_.cents).getOrElse(Array.empty[Long])
            val all = prev ++ it.map(_.cents)
            state.update(NonincState(all))
            val wmMs = scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(0L)
            // fire when the watermark passes the window end (ms truncation
            // of the µs end can collide with the current watermark; a timer
            // must sit strictly above it — firing 1 ms later is still
            // "once the watermark passed")
            state.setTimeoutTimestamp(math.max((key._2 + lenUs) / 1000L, wmMs + 1L))
            Iterator.empty
          }
      }
  }

  /** Count-based tumbling windows of `len` per key. Emits the state of
    * every window touched in the batch (closed windows are final; the
    * trailing partial matches the reference's EOS flush,
    * wf/window_replica.hpp:356-408). Exactly-once per window for
    * single-batch (Trigger.AvailableNow) runs; continuous deployments
    * consume it as an update stream keyed by (user_id, wid).
    */
  def countTumblingWindows(ev: Dataset[EvRow], len: Long)(
      implicit spark: SparkSession): Dataset[CbOut] = {
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[EvRow], state: GroupState[CbState]) =>
          var st = state.getOption.getOrElse(CbState(0L, Nil))
          var open = st.open.map(p => p.wid -> p).toMap
          var counter = st.counter
          val touched = scala.collection.mutable.LinkedHashSet[Long]()
          it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            val wid = counter / len
            counter += 1
            val p = open.getOrElse(wid, CbPartial(wid, 0L, 0L, Long.MaxValue, Long.MinValue))
            open += wid -> CbPartial(wid, p.cnt + 1, p.sumCents + e.cents,
              math.min(p.firstEvent, e.event_id), math.max(p.lastEvent, e.event_id))
            touched += wid
          }
          // windows full before the batch's last element can be dropped
          // from state (final); keep only the trailing partial.
          val maxWid = if (counter == 0) -1L else (counter - 1) / len
          val keep = open.filter { case (wid, p) => wid == maxWid && p.cnt < len }
          state.update(CbState(counter, keep.values.toList))
          touched.iterator.map { wid =>
            val p = open(wid)
            CbOut(user, wid, p.cnt, p.sumCents.toDouble / 100.0, p.firstEvent, p.lastEvent)
          }
      }
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** One (key, salt, pane anchor) slot of a partition's PLQ fold. */
  private case class PaneKey(key: String, salt: Int, anchor: Long)

  /** The PLQ (pane-level query) stage of both FlatFAT twins, run MAP-SIDE,
    * before the exchange into their WLQ (window-level query)
    * `flatMapGroupsWithState` — the reference's Paned_Windows split
    * (wf/paned_windows.hpp:140-141) and the streaming
    * analog of the batch paned path's pre-aggregation. Each input
    * partition folds its rows into one (cnt, sum, min, max) [[FfatPane]]
    * per (key, salt, gcd(len, slide) pane anchor), so a micro-batch
    * shuffles, sorts and deserializes at most partitions × keys × salts ×
    * panes touched partials instead of every row. Exact because lift/comb
    * is associative and commutative, and every row of a pane belongs to
    * the same windows (panes align with window boundaries).
    *
    * The salt is computed per row: a fixed 64-bit mix of (ts, cents)
    * (golden-ratio multiply + xor-fold), stable across JVM/Scala versions,
    * unlike collection hashes; 0 when `salts` = 1.
    *
    * When the input carries an `event_time` column (the caller keeps it so
    * column pruning cannot strip the watermark attribute, see the CALLER
    * CONTRACT on [[intervalJoinShared]]), each partial carries its PANE END
    * as `event_time`, with the input column's metadata (the watermark
    * delay key): that is the attribute the stateful operator reads its
    * watermark from, and, under `EventTimeTimeout`, the one Spark's
    * late-event filter in front of it compares.
    */
  private def paneStage[T <: FfatEvent](ev: Dataset[T], paneUs: Long, salts: Int)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val partials = ev.mapPartitions { rows =>
      val panes = new java.util.HashMap[PaneKey, Array[Long]]()
      rows.foreach { e =>
        val salt =
          if (salts == 1) 0
          else {
            val h = (e.ts_us * 0x9E3779B97F4A7C15L) ^ (e.cents * 0xC2B2AE3D27D4EB4FL)
            Math.floorMod((h ^ (h >>> 32)).toInt, salts)
          }
        val k = PaneKey(e.key, salt, Math.floorDiv(e.ts_us, paneUs) * paneUs)
        var p = panes.get(k)
        if (p == null) { p = Array(0L, 0L, Long.MaxValue, Long.MinValue); panes.put(k, p) }
        p(0) += 1
        p(1) += e.cents
        p(2) = math.min(p(2), e.cents)
        p(3) = math.max(p(3), e.cents)
      }
      panes.entrySet.iterator.asScala.map { en =>
        val (k, p) = (en.getKey, en.getValue)
        FfatPane(k.key, k.salt, k.anchor, p(0), p(1), p(2), p(3))
      }
    }.toDF()
    ev.schema.find(_.name == "event_time").fold(partials)(f =>
      partials.withColumn("event_time",
        timestamp_micros(col("pane_us") + paneUs).as("event_time", f.metadata)))
  }

  /** The WLQ merge of both twins: the retained state panes (those `keep`
    * accepts) plus this batch's partials, as anchor → (cnt, sum, min, max). */
  private def mergePanes(paneTs: Array[Long], cnt: Array[Long], sum: Array[Long],
      mn: Array[Long], mx: Array[Long], keep: Long => Boolean,
      partials: Iterator[FfatPane]): mutable.HashMap[Long, (Long, Long, Long, Long)] = {
    val panes = mutable.HashMap[Long, (Long, Long, Long, Long)]()
    paneTs.indices.foreach { i =>
      if (keep(paneTs(i))) panes(paneTs(i)) = (cnt(i), sum(i), mn(i), mx(i))
    }
    partials.foreach { p =>
      val (c, sm, lo, hi) = panes.getOrElse(p.pane_us, (0L, 0L, Long.MaxValue, Long.MinValue))
      panes(p.pane_us) = (c + p.cnt, sm + p.sum, math.min(lo, p.mn), math.max(hi, p.mx))
    }
    panes
  }

  /** Sliding/hopping time windows through the STREAMING engine via the
    * FlatFAT lift/comb tree (the reference's Ffat_Windows run as a
    * Win_Replica would run it), split into the reference's two paned
    * stages: the map-side PLQ [[paneStage]] folds each partition's rows
    * into pane partials, and the per-key state (the WLQ) holds ONE (cnt,
    * sum, min, max) partial per gcd(len, slide) tumbling pane — arriving
    * partials merge into their pane, so state per key is O(panes inside
    * the retention horizon), not O(rows), the reference's pane-stage bound
    * (/root/reference/wf/paned_windows.hpp:140-141). Each batch re-answers
    * the windows its partials touch (every row of a pane touches the same
    * windows) with O(log #panes) range combines over the shared
    * [[graft.operators.FlatFatWindows.windowsFromPartials]] kernel — no
    * explode multiplier, one shuffle (of partials), emission keyed by
    * (key, window) in update mode like the CB family. Valid because panes
    * align with window boundaries and the lift/comb pair is associative
    * (same argument as the batch
    * [[graft.operators.TimeWindows.slidingByFlatFatPaned]]). Under
    * `NoTimeout` Spark puts no late-event filter in front of the
    * operator, so every row counts. Panes anchored older than watermark −
    * 2·len can no longer contribute to any window a future (≥ watermark)
    * row touches and are purged, bounding state per key in a continuous
    * deployment.
    */
  def slidingWindowsFfat(ev: Dataset[FfatIn], lenUs: Long, slideUs: Long)(
      implicit spark: SparkSession): Dataset[FfatStreamOut] = {
    import spark.implicits._
    paneStage(ev, gcd(lenUs, slideUs), salts = 1)
      .groupBy(col("key")).as[String, FfatPane]
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[FfatPane], state: GroupState[FfatKeyState]) =>
          val s = state.getOption.getOrElse(
            FfatKeyState(Array.empty, Array.empty, Array.empty, Array.empty, Array.empty))
          val wmUs = scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(0L) * 1000L
          val partials = it.toArray
          // retained state panes: anchor ≥ wm − 2·len (a purged pane's
          // windows all start at-or-before its anchor < wm − len, below
          // every window a future ≥-wm row can touch)
          val panes = mergePanes(s.paneTs, s.cnt, s.sum, s.mn, s.mx,
            a => wmUs <= 0 || a >= wmUs - 2 * lenUs, partials.iterator)
          val touched = mutable.HashSet[Long]()
          partials.foreach { p =>
            var w = Math.floorDiv(p.pane_us - lenUs, slideUs) + 1
            val wMax = Math.floorDiv(p.pane_us, slideUs)
            while (w <= wMax) { touched += w * slideUs; w += 1 }
          }
          val anchors = panes.keysIterator.toArray
          state.update(FfatKeyState(anchors,
            anchors.map(panes(_)._1), anchors.map(panes(_)._2),
            anchors.map(panes(_)._3), anchors.map(panes(_)._4)))
          graft.operators.FlatFatWindows.windowsFromPartials(anchors,
            anchors.map(panes(_)._1), anchors.map(panes(_)._2),
            anchors.map(panes(_)._3), anchors.map(panes(_)._4), lenUs, slideUs)
            .iterator.filter(w => touched.contains(w.winStartUs))
            .map(w => FfatStreamOut(key, w.winStartUs, w.cnt, w.sum, w.min, w.max))
      }
  }

  /** The emit-once (append/EOS) twin of [[slidingWindowsFfat]]: the same
    * map-side PLQ and per-pane partial state, but each window is emitted
    * EXACTLY ONCE, when the watermark passes its end — the reference's
    * firing rule (wf/window_replica.hpp:305,356-408) — via an
    * `EventTimeTimeout` timer at the earliest pending window end, and the
    * panes whose windows have all fired are evicted. The update-mode twin
    * re-emits touched windows per batch; this is what a continuous
    * append-consumer deployment runs.
    *
    * `salts` enables SUB-KEY (DP-mode) parallelism — the
    * `flatMapGroupsWithState` analog of the reference slicing one key's
    * archive across replicas (/root/reference/wf/interval_join.hpp:314-322,
    * wf/window_replica.hpp:286-288): rows group by (key, hash(row) mod
    * salts), each salt holds partial pane-states and fires partial window
    * answers once, and because emission is exactly-once the per-(key,
    * window) final merge downstream is a plain
    * `groupBy(key, win_start_us).agg(sum/sum/min/max)` — a narrow
    * stateless-shuffle combine of ≤ salts rows per window. Valid because
    * lift/comb is associative and panes align with window boundaries.
    * salts = 1 (the default) emits final windows directly with no merge
    * stage; S× state rows and the second shuffle only pay off under
    * adversarial single-key skew. Chaining the merge aggregation in the
    * SAME streaming query requires
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`:
    * Spark conservatively flags any stateful op downstream of
    * flatMapGroupsWithState, but the merge agg carries no event-time
    * column, so the flagged failure mode (late-row discard downstream)
    * cannot occur — asserted result-identical at S ∈ {1, 4} in spec.
    * BLAST RADIUS: that flag is QUERY-GLOBAL, not per-operator — setting
    * it also silences the late-data correctness guard for every OTHER
    * stateful operator composed into the same query, where the flagged
    * failure mode is real. If the query chains any stateful op beyond
    * this merge, isolate the salted window + merge in its own query
    * (checkpoint + re-ingest, or a separate sink/source hop) instead of
    * disabling the guard query-wide; restore the flag after a bounded
    * run either way.
    *
    * LATENESS is judged per pane partial, at pane granularity: each
    * partial's watermarked time is its pane END, so Spark's late-event
    * filter in front of the operator drops a partial iff its pane ended
    * at or before the watermark for late events — the window-end rule of
    * Spark's own windowed aggregation, and the reference's "tuples for
    * already-closed windows" rule (wf/window_replica.hpp:256-264). A row
    * behind the watermark whose pane has not ended therefore COUNTS in
    * its (not yet fired) windows; a row-granular filter would drop it.
    * `numRowsDroppedByWatermark` of this operator counts pane partials,
    * not rows.
    *
    * Exactly-once stays safe per salt: a surviving partial's pane ends
    * after that watermark, and every window containing the pane ends at
    * or after the pane's end — so after the watermark, which is at or
    * above every key's fired frontier (the frontier is the watermark of
    * an earlier batch). No window fires twice, also for a key whose panes
    * were evicted (a pane is evicted only once its last window ended at
    * or before the watermark, i.e. once its pane end did) or a new key.
    */
  def slidingWindowsFfatAppend(ev: Dataset[FfatInT], lenUs: Long, slideUs: Long,
      salts: Int = 1)(implicit spark: SparkSession): Dataset[FfatStreamOut] = {
    import spark.implicits._
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val paneUs = gcd(lenUs, slideUs)
    paneStage(ev, paneUs, salts)
      .groupBy(col("key"), col("salt")).as[(String, Int), FfatPane]
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (String, Int), it: Iterator[FfatPane], state: GroupState[FfatAppendState]) =>
          val s = state.getOption.getOrElse(FfatAppendState(
            Array.empty, Array.empty, Array.empty, Array.empty, Array.empty, Long.MinValue))
          val wmUs = scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(0L) * 1000L
          val panes = mergePanes(s.paneTs, s.cnt, s.sum, s.mn, s.mx, _ => true, it)
          val anchors = panes.keysIterator.toArray
          val wins = graft.operators.FlatFatWindows.windowsFromPartials(anchors,
            anchors.map(panes(_)._1), anchors.map(panes(_)._2),
            anchors.map(panes(_)._3), anchors.map(panes(_)._4), lenUs, slideUs)
          // fire once: windows whose end the watermark has passed and that
          // are above the already-fired frontier, in window order
          val fired = wins.filter(w =>
            w.winStartUs + lenUs <= wmUs && w.winStartUs + lenUs > s.firedThroughUs)
            .sortBy(_.winStartUs)
          // a pane [a, a+g) belongs to windows starting at multiples of
          // slide in [a+g-len, a]; its LAST window ends at
          // floorDiv(a, slide)·slide + len — strictly before a + len when
          // slide does not divide len, and nonexistent for a hopping-gap
          // pane (floorMod(a, slide) > len − g). Purge on that exact bound:
          // a kept pane then always carries a pending window end > wm (so
          // the timer min below is total), and gap panes never linger
          def lastEnd(a: Long): Long = {
            if (Math.floorMod(a, slideUs) > lenUs - paneUs) Long.MinValue // gap: in no window
            else Math.floorDiv(a, slideUs) * slideUs + lenUs
          }
          val keep = anchors.filter(lastEnd(_) > wmUs)
          if (keep.isEmpty) state.remove()
          else {
            state.update(FfatAppendState(keep,
              keep.map(panes(_)._1), keep.map(panes(_)._2),
              keep.map(panes(_)._3), keep.map(panes(_)._4),
              math.max(s.firedThroughUs, wmUs)))
            val nextEnd = wins.iterator.map(_.winStartUs + lenUs).filter(_ > wmUs).min
            val wmMs = wmUs / 1000L
            state.setTimeoutTimestamp(math.max(nextEnd / 1000L, wmMs + 1L))
          }
          fired.iterator.map(w =>
            FfatStreamOut(key._1, w.winStartUs, w.cnt, w.sum, w.min, w.max))
      }
  }

  /** Interval self-join over ONE scan of a tagged stream — the shape of
    * the reference's interval-join replica
    * (/root/reference/wf/interval_join.hpp:279-307): both sides buffer
    * per key, each arriving row probes the opposite buffer for
    * |ts_a − ts_b| ≤ bound and the pair is emitted exactly once, when its
    * later row arrives. Spark's symmetric stream-stream join computes the
    * same result but plans one source scan PER SIDE — for a self-join
    * that doubles ingest I/O; this operator is the single-scan plan
    * (plan-asserted in spec) and the two forms are asserted
    * result-identical. Buffered rows older than watermark − bound can
    * never match again (future events are ≥ watermark) and are purged —
    * the reference's purging rule — so state is bounded by key × 2·bound
    * in a continuous deployment.
    *
    * CALLER CONTRACT (round-7 stress finding): the watermarked event-time
    * column must SURVIVE the projection feeding this operator (keep it in
    * the select and let the typed mapping to [[IjIn]] discard it) —
    * selecting it away lets column pruning strip the watermark attribute
    * below the EventTimeWatermark node, event-time stats never collect,
    * `getCurrentWatermarkMs` stays 0 and this purge rule silently never
    * fires. `ScaleStressSpec` asserts the bound end-to-end at 10⁷ rows.
    */
  def intervalJoinShared(ev: Dataset[IjIn], boundUs: Long)(
      implicit spark: SparkSession): Dataset[IjOut] = {
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[IjIn], state: GroupState[IjState]) =>
          var s = state.getOption.getOrElse(IjState(Nil, Nil))
          val wmUs = scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(0L) * 1000L
          if (wmUs > 0) s = IjState(
            s.left.filter(_.ts_us >= wmUs - boundUs),
            s.right.filter(_.ts_us >= wmUs - boundUs))
          var lefts = s.left
          var rights = s.right
          val out = scala.collection.mutable.ListBuffer[IjOut]()
          it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            if (e.isLeft) {
              rights.foreach { r =>
                if (r.ts_us >= e.ts_us - boundUs && r.ts_us <= e.ts_us + boundUs)
                  out += IjOut(e.event_id, r.id, user,
                    math.max(e.ts_us, r.ts_us), e.value + r.value)
              }
              lefts ::= IjBuf(e.event_id, e.ts_us, e.value)
            } else {
              lefts.foreach { l =>
                if (e.ts_us >= l.ts_us - boundUs && e.ts_us <= l.ts_us + boundUs)
                  out += IjOut(l.id, e.event_id, user,
                    math.max(l.ts_us, e.ts_us), l.value + e.value)
              }
              rights ::= IjBuf(e.event_id, e.ts_us, e.value)
            }
          }
          state.update(IjState(lefts, rights))
          out.iterator
      }
  }

  /** The DP-mode (intra-key parallel) flavor of [[intervalJoinShared]]:
    * the reference slices ONE key's archive across replicas
    * (/root/reference/wf/interval_join.hpp:314-322, `wf/join_collector.hpp`)
    * so a pathologically hot key parallelizes; `flatMapGroupsWithState`
    * pins a group to one task, so the slicing must live in the GROUP KEY —
    * here a TIME BUCKET of width `bucketUs` ≥ bound. Every row is routed
    * to its own bucket AND the next (a 2× input multiplier, the price of
    * slicing), so any pair within the bound co-occurs in at least one
    * group; a pair is emitted exactly once, by the group that equals the
    * LATER row's home bucket — `max(floor(ts_l/W), floor(ts_r/W))` — a
    * deterministic rule both copies agree on. A hot key's archive and
    * probe work now split across ⌈horizon/W⌉ independent state groups,
    * and a group whose purge empties both sides removes itself — buckets
    * expire wholesale as the watermark passes.
    *
    * Same purge rule as [[intervalJoinShared]]; a group additionally arms
    * an `EventTimeTimeout` cleanup timer at `(bucket+1)·W + bound` — past
    * that watermark no future row can be routed to it (a row at ts ≥ wm
    * has home ≥ bucket+1, so its two copies land strictly later) — and
    * removes itself when it fires, so expired buckets cannot accumulate
    * (a NoTimeout rendering would strand every stale group's last state
    * row forever). The bucket duplication runs in the COLUMN layer so the
    * watermark attribute survives to the operator. Result-equality vs the
    * pinned-key form is spec-asserted on the sf0.01 events table.
    */
  def intervalJoinBucketed(ev: Dataset[IjTIn], boundUs: Long, bucketUs: Long)(
      implicit spark: SparkSession): Dataset[IjOut] = {
    import spark.implicits._
    require(bucketUs >= boundUs, s"bucket width $bucketUs must be >= bound $boundUs")
    val dup = ev.toDF()
      .withColumn("__b", expr(s"(ts_us - pmod(ts_us, ${bucketUs}L)) div ${bucketUs}L"))
      .withColumn("bucket", explode(array(col("__b"), col("__b") + 1)))
      .drop("__b")
      .as[IjBIn]
    def home(tsUs: Long): Long = Math.floorDiv(tsUs, bucketUs)
    dup.groupByKey(e => (e.user_id, e.bucket))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), it: Iterator[IjBIn], state: GroupState[IjState]) =>
          val (user, bucket) = key
          if (state.hasTimedOut) {
            // wm passed (bucket+1)·W + bound: no future arrival can route
            // here and nothing left can pair — drop the whole group
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(IjState(Nil, Nil))
            val wmUs = scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(0L) * 1000L
            if (wmUs > 0) s = IjState(
              s.left.filter(_.ts_us >= wmUs - boundUs),
              s.right.filter(_.ts_us >= wmUs - boundUs))
            var lefts = s.left
            var rights = s.right
            val out = scala.collection.mutable.ListBuffer[IjOut]()
            def emit(l: IjBuf, r: IjBuf): Unit =
              if (r.ts_us >= l.ts_us - boundUs && r.ts_us <= l.ts_us + boundUs &&
                  math.max(home(l.ts_us), home(r.ts_us)) == bucket)
                out += IjOut(l.id, r.id, user,
                  math.max(l.ts_us, r.ts_us), l.value + r.value)
            it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
              if (e.isLeft) {
                val l = IjBuf(e.event_id, e.ts_us, e.value)
                rights.foreach(emit(l, _))
                lefts ::= l
              } else {
                val r = IjBuf(e.event_id, e.ts_us, e.value)
                lefts.foreach(emit(_, r))
                rights ::= r
              }
            }
            if (lefts.isEmpty && rights.isEmpty) state.remove()
            else {
              state.update(IjState(lefts, rights))
              val wmMs = wmUs / 1000L
              state.setTimeoutTimestamp(
                math.max(((bucket + 1) * bucketUs + boundUs) / 1000L + 1L, wmMs + 1L))
            }
            out.iterator
          }
      }
  }

  /** Streaming as-of join over ONE scan of a tagged stream: every left
    * row (isLeft) is answered with the LATEST right row at-or-before its
    * timestamp on the same key (ties at equal ts → max value, matching a
    * max-pre-aggregated right side), or NULLs if no right precedes it.
    *
    * Unlike [[intervalJoinShared]] — which can emit a pair the moment its
    * later row arrives — an as-of answer is only FINAL once the watermark
    * passes the left's timestamp: until then a late right row with
    * ts ≤ left.ts could still arrive and change "latest". So lefts buffer
    * until `wm ≥ ts`, and flushing uses `GroupStateTimeout.EventTimeTimeout`
    * (the firing rule of the reference's window replica,
    * /root/reference/wf/window_replica.hpp:356-408, applied to a join):
    * a key with pending lefts schedules a timer at its earliest pending
    * timestamp and is re-invoked when the watermark passes it, data or
    * no data.
    *
    * State is bounded per key: pending lefts live only inside the
    * disorder window (wm never trails the max seen event time by more
    * than the watermark delay), and of the rights at-or-before the
    * watermark only the single best carry survives — everything older
    * can never be "latest" for any future left (future lefts have
    * ts > wm; anything at-or-before wm loses to the carry).
    */
  def asofJoinShared(ev: Dataset[AsofIn])(
      implicit spark: SparkSession): Dataset[AsofOut] = {
    import spark.implicits._
    // "later" = greater (ts, value): equal-ts rights collapse to max value
    def better(a: IjBuf, b: IjBuf): IjBuf =
      if (b.ts_us > a.ts_us || (b.ts_us == a.ts_us && b.value > a.value)) b else a
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[AsofIn], state: GroupState[AsofState]) =>
          val s = state.getOption.getOrElse(AsofState(Nil, Nil))
          var lefts = s.lefts
          var rights = s.rights
          it.foreach { e =>
            if (e.isLeft) lefts ::= IjBuf(e.event_id, e.ts_us, e.value)
            else rights ::= IjBuf(e.event_id, e.ts_us, e.value)
          }
          val wmUs = scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(0L) * 1000L
          val (ripe, pending) = lefts.partition(_.ts_us <= wmUs)
          val out = ripe.sortBy(l => (l.ts_us, l.id)).map { l =>
            val cands = rights.filter(_.ts_us <= l.ts_us)
            if (cands.isEmpty) AsofOut(l.id, user, l.ts_us, None, None)
            else {
              val m = cands.reduce(better)
              AsofOut(l.id, user, l.ts_us, Some(m.ts_us), Some(m.value))
            }
          }
          // purge: rights after the watermark stay verbatim (future lefts
          // may land between them); rights at-or-before collapse to the
          // single best carry
          val (fresh, old) = rights.partition(_.ts_us > wmUs)
          val carry = old.reduceOption(better).toList
          if (pending.isEmpty && fresh.isEmpty && carry.isEmpty) state.remove()
          else {
            state.update(AsofState(pending, carry ++ fresh))
            if (pending.nonEmpty) {
              val fireMs = pending.map(_.ts_us).min / 1000L
              state.setTimeoutTimestamp(math.max(fireMs, wmUs / 1000L + 1L))
            }
          }
          out.iterator
      }
  }

  /** Count-based *sliding* windows (len > slide ⇒ overlap, len < slide ⇒
    * hopping gaps — wf/window_replica.hpp:267-273) per key. Element with
    * per-key arrival index i belongs to window ids
    * w ∈ [max(0, (i-len) div slide + 1), i div slide]. Same emission
    * contract as [[countTumblingWindows]].
    */
  def countSlidingWindows(ev: Dataset[EvRow], len: Long, slide: Long)(
      implicit spark: SparkSession): Dataset[CbSlideOut] = {
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[EvRow], state: GroupState[CbState]) =>
          var st = state.getOption.getOrElse(CbState(0L, Nil))
          var open = st.open.map(p => p.wid -> p).toMap
          var counter = st.counter
          val touched = scala.collection.mutable.LinkedHashSet[Long]()
          it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            val i = counter
            counter += 1
            val wMin = if (i >= len) (i - len) / slide + 1 else 0L
            val wMax = i / slide
            var w = wMin
            while (w <= wMax) {
              val p = open.getOrElse(w, CbPartial(w, 0L, 0L, Long.MaxValue, Long.MinValue))
              open += w -> p.copy(cnt = p.cnt + 1, sumCents = p.sumCents + e.cents)
              touched += w
              w += 1
            }
          }
          // a window w can still gain elements while w*slide + len > counter
          val keep = open.filter { case (w, _) => w * slide + len > counter }
          state.update(CbState(counter, keep.values.toList))
          touched.iterator.map { wid =>
            val p = open(wid)
            CbSlideOut(user, wid, p.cnt, p.sumCents.toDouble / 100.0)
          }
      }
  }
}
