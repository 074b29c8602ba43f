package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Window aggregations + rolling reduce — the core of the reference
  * (SURVEY §2.3-2.4).
  *
  * Window model (/root/reference/wf/window_structure.hpp:49-116): count-based
  * (CB) and time-based (TB) windows with `win_len`/`slide_len`; tumbling
  * (len==slide), sliding (len>slide), hopping with gaps (len<slide,
  * wf/window_replica.hpp:267-273). EOS flushes all open windows
  * (wf/window_replica.hpp:356-408) — so the batch rendering emits every
  * window that received ≥1 tuple, partial tail windows included. User logic
  * flavors (wf/window_replica.hpp:72-75): incremental fold vs
  * non-incremental full-buffer Iterable — `win_tb_noninc` exercises the
  * latter (order-statistics over the sorted buffer).
  *
  * `Keyed_Windows` / `Parallel_Windows` / `Paned_Windows` /
  * `MapReduce_Windows` / `Ffat_Windows` are five physical schemes for the
  * same logical result (SURVEY §2.4) — in Spark that physical choice is
  * Catalyst's: groupBy plans partial→final HashAggregate, which IS the
  * pane/PLQ-WLQ work-sharing. The spec asserts scheme-invariance the way the
  * reference's tests assert parallelism-invariance.
  *
  * `Reduce` (wf/reduce.hpp:139-158) emits the updated per-key state once per
  * input — batch rendering is the running aggregate over
  * `Window.partitionBy(key).orderBy(ts).rowsBetween(unboundedPreceding, 0)`.
  *
  * Scale notes: TB/CB tumbling is a single hash-shuffle on (key, window).
  * Sliding windows explode each row into len/slide window ids *before* the
  * shuffle — at 100 TB you bound that multiplier by pane-decomposing
  * (aggregate per gcd-pane first, then combine panes per window), which is
  * exactly the reference's Paned_Windows trick; the pane variant is
  * implemented in [[graft.operators.TimeWindows.slidingByPanes]] and
  * asserted result-equal in the spec. The rolling reduce shuffles once on
  * the key and sorts within partitions (no global sort).
  */
object WindowQueries {

  private val H1 = Q.HourUs          // 3_600_000_000
  private val M15 = 15L * Q.MinuteUs //   900_000_000
  private val M10 = 10L * Q.MinuteUs //   600_000_000
  private val M30 = 30L * Q.MinuteUs // 1_800_000_000
  private val H6 = 6L * Q.HourUs

  private val SumVal = "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)"

  // oracles the stream twins in StreamingQueries share by value
  private[queries] val reduceRollingOracleSql: String = s"""
        SELECT event_id, user_id,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_sum,
          COUNT(*) OVER w AS running_cnt
        FROM (SELECT event_id, user_id, ${Q.TsUsDuck} AS ts_us, value FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY event_id"""

  private[queries] val winTbTumblingOracleSql: String = s"""
        SELECT event_type, ((${Q.TsUsDuck}) // $H1) * $H1 AS win_start_us,
               COUNT(*) AS cnt, $SumVal AS sum_value
        FROM events GROUP BY event_type, win_start_us
        ORDER BY event_type, win_start_us"""

  private[queries] val winTbSlidingOracleSql: String = s"""
        WITH e AS (SELECT event_type, ${Q.TsUsDuck} AS ts_us, value FROM events),
        x AS (SELECT event_type, value,
                unnest(range((ts_us - $H1) // $M15 + 1, ts_us // $M15 + 1)) AS w
              FROM e)
        SELECT event_type, w * $M15 AS win_start_us,
               COUNT(*) AS cnt, $SumVal AS sum_value
        FROM x GROUP BY event_type, win_start_us
        ORDER BY event_type, win_start_us"""

  private[queries] val winTbSlidingFfatOracleSql: String = s"""
        WITH e AS (SELECT event_type, ${Q.TsUsDuck} AS ts_us,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        x AS (SELECT event_type, cents,
                unnest(range((ts_us - $H1) // $M15 + 1, ts_us // $M15 + 1)) AS w
              FROM e)
        SELECT event_type, w * $M15 AS win_start_us, COUNT(*) AS cnt,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               MIN(cents) AS min_cents, MAX(cents) AS max_cents
        FROM x GROUP BY event_type, win_start_us
        ORDER BY event_type, win_start_us"""

  private[queries] val winTbHoppingOracleSql: String = s"""
        WITH e AS (SELECT event_type, ${Q.TsUsDuck} AS ts_us, value FROM events),
        x AS (SELECT event_type, value,
                unnest(range((ts_us - $M10) // $M30 + 1, ts_us // $M30 + 1)) AS w
              FROM e)
        SELECT event_type, w * $M30 AS win_start_us,
               COUNT(*) AS cnt, $SumVal AS sum_value
        FROM x GROUP BY event_type, win_start_us
        ORDER BY event_type, win_start_us"""

  private[queries] val winCbTumblingOracleSql: String = s"""
        WITH e AS (SELECT user_id, event_id, ${Q.TsUsDuck} AS ts_us, value FROM events),
        r AS (SELECT user_id, event_id, value,
                ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - 1 AS i
              FROM e)
        SELECT user_id, i // 100 AS wid, COUNT(*) AS cnt, $SumVal AS sum_value,
               MIN(event_id) AS first_event, MAX(event_id) AS last_event
        FROM r GROUP BY user_id, wid ORDER BY user_id, wid"""

  private[queries] val winCbSlidingOracleSql: String = s"""
        WITH e AS (SELECT user_id, event_id, ${Q.TsUsDuck} AS ts_us, value FROM events),
        r AS (SELECT user_id, event_id, value,
                ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - 1 AS i
              FROM e),
        x AS (SELECT user_id, value,
                unnest(range(CASE WHEN i >= 100 THEN (i - 100) // 50 + 1 ELSE 0 END, i // 50 + 1)) AS wid
              FROM r)
        SELECT user_id, wid, COUNT(*) AS cnt, $SumVal AS sum_value
        FROM x GROUP BY user_id, wid ORDER BY user_id, wid"""

  private[queries] val winCbHoppingOracleSql: String = s"""
        WITH e AS (SELECT user_id, event_id, ${Q.TsUsDuck} AS ts_us, value FROM events),
        r AS (SELECT user_id, event_id, value,
                ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - 1 AS i
              FROM e),
        x AS (SELECT user_id, value,
                unnest(range(CASE WHEN i >= 20 THEN (i - 20) // 50 + 1 ELSE 0 END, i // 50 + 1)) AS wid
              FROM r)
        SELECT user_id, wid, COUNT(*) AS cnt, $SumVal AS sum_value
        FROM x GROUP BY user_id, wid ORDER BY user_id, wid"""

  private[queries] val winTbSessionOracleSql: String = s"""
        WITH e AS (SELECT user_id, ${Q.TsUsDuck} AS ts_us, value FROM events),
        l AS (SELECT user_id, ts_us, value,
                CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) >= ${30L * Q.MinuteUs}
                     OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
                     THEN 1 ELSE 0 END AS new_s
              FROM e),
        sgrp AS (SELECT user_id, ts_us, value,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM l)
        SELECT user_id, MIN(ts_us) AS session_start_us,
               COUNT(*) AS cnt, $SumVal AS sum_value
        FROM sgrp GROUP BY user_id, sid
        ORDER BY user_id, session_start_us"""

  private[queries] val winTbNonincOracleSql: String = s"""
        WITH e AS (SELECT user_id, ((${Q.TsUsDuck}) // $H6) * $H6 AS win_start_us,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        SELECT user_id, win_start_us, COUNT(*) AS cnt,
               (list(cents ORDER BY cents))[CAST((COUNT(*) + 1) // 2 AS INT)] AS median_cents,
               MAX(cents) - MIN(cents) AS range_cents
        FROM e GROUP BY user_id, win_start_us
        ORDER BY user_id, win_start_us"""

  // ---- rows with a complete-mode stream twin (StreamingQueries
  //      registers each `stream`): the explode rendering of hopping with
  //      gaps (Spark's window() requires slide ≤ len) and the
  //      full-buffer Iterable flavor ----

  private[queries] lazy val hopping = Twin("win_tb_hopping", Twin.Events,
      "complete", Seq("event_type", "win_start_us"), Some(winTbHoppingOracleSql)) {
    (_, _, events) => events
      .select(col("event_type"), expr(Q.TsUsSpark).as("ts_us"), col("value"))
      .withColumn("wmin", expr(s"(ts_us - $M10) div $M30 + 1"))
      .withColumn("wmax", expr(s"ts_us div $M30"))
      .withColumn("w", explode(expr("CASE WHEN wmin <= wmax THEN sequence(wmin, wmax) END")))
      .select(col("event_type"), expr(s"w * $M30").as("win_start_us"), col("value"))
      .groupBy("event_type", "win_start_us")
      .agg(count(lit(1)).as("cnt"), expr(SumVal).as("sum_value"))
  }

  private[queries] lazy val noninc = Twin("win_tb_noninc", Twin.Events,
      "complete", Seq("user_id", "win_start_us"), Some(winTbNonincOracleSql)) {
    (_, _, events) => events
      .select(col("user_id"), expr(s"((${Q.TsUsSpark}) div $H6) * $H6").as("win_start_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("user_id", "win_start_us")
      .agg(count(lit(1)).as("cnt"),
        expr("sort_array(collect_list(cents))").as("buf"))
      .select(col("user_id"), col("win_start_us"), col("cnt"),
        expr("buf[CAST((cnt + 1) div 2 AS INT) - 1]").as("median_cents"),
        expr("buf[CAST(cnt AS INT) - 1] - buf[0]").as("range_cents"))
  }

  def all: Seq[Q] = Seq(

    // ---- Reduce: per-key rolling fold, one emission per input ----
    Q("reduce_rolling",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), expr(Q.TsUsSpark).as("ts_us"), col("value"))
          .withColumn("running_sum",
            sum(expr("CAST(value AS DECIMAL(12,2))")).over(w).cast("double"))
          .withColumn("running_cnt", count(lit(1)).over(w))
          .select("event_id", "user_id", "running_sum", "running_cnt")
          .orderBy("event_id")
      },
      Some(reduceRollingOracleSql)),

    // ---- keyless Reduce: global running fold (empty_key_t path,
    //      wf/basic.hpp:284-302) — via the distributed two-pass prefix
    //      scan (a keyless ORDER BY window would collapse to one task) ----
    Q("reduce_keyless",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), expr(Q.TsUsSpark).as("ts_us"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        graft.operators.PrefixSum.runningSum(ev, "cents", Seq("ts_us", "event_id"))
          .select(col("event_id"),
            (col("running_cents").cast("double") / lit(100.0)).as("running_sum"))
          .orderBy("event_id")
      },
      Some(s"""
        SELECT event_id,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
            (ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_sum
        FROM (SELECT event_id, ${Q.TsUsDuck} AS ts_us, value FROM events)
        ORDER BY event_id""")),

    // ---- TB tumbling (len == slide) ----
    Q("win_tb_tumbling",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"), expr(s"((${Q.TsUsSpark}) div $H1) * $H1").as("win_start_us"),
          col("value"))
        .groupBy("event_type", "win_start_us")
        .agg(count(lit(1)).as("cnt"), expr(SumVal).as("sum_value"))
        .orderBy("event_type", "win_start_us"),
      Some(winTbTumblingOracleSql)),

    // ---- TB sliding (len 1h > slide 15m): each row lands in len/slide
    //      windows; window id w covers [w*slide, w*slide+len) ----
    Q("win_tb_sliding",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"), expr(Q.TsUsSpark).as("ts_us"), col("value"))
        .withColumn("w", explode(expr(
          s"sequence((ts_us - $H1) div $M15 + 1, ts_us div $M15)")))
        .select(col("event_type"), expr(s"w * $M15").as("win_start_us"), col("value"))
        .groupBy("event_type", "win_start_us")
        .agg(count(lit(1)).as("cnt"), expr(SumVal).as("sum_value"))
        .orderBy("event_type", "win_start_us"),
      Some(winTbSlidingOracleSql)),

    // ---- TB sliding via FlatFAT (Ffat_Windows, wf/flatfat.hpp): one
    //      shuffle on the key, no explode multiplier, O(log n) range
    //      combines per window incl. non-invertible min/max ----
    Q("win_tb_sliding_ffat",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_type"), expr(Q.TsUsSpark).as("ts_us"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        graft.operators.TimeWindows
          .slidingByFlatFat(ev, "ts_us", "cents", H1, M15, Seq("event_type"))
          .orderBy("event_type", "win_start_us")
      },
      Some(winTbSlidingFfatOracleSql)),

    // ---- TB sliding via pane-fed FlatFAT (Paned_Windows PLQ feeding the
    //      Ffat tree, wf/paned_windows.hpp:140-141): rows pre-aggregate per
    //      gcd(len, slide) pane (map-side combine — the wide shuffle moves
    //      pane summaries, not rows), the per-key tree holds one leaf per
    //      PANE. Same oracle as the row-fed FlatFAT twin. ----
    Q("win_tb_sliding_ffat_paned",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_type"), expr(Q.TsUsSpark).as("ts_us"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        graft.operators.TimeWindows
          .slidingByFlatFatPaned(ev, "ts_us", "cents", H1, M15, Seq("event_type"))
          .orderBy("event_type", "win_start_us")
      },
      Some(winTbSlidingFfatOracleSql)),

    // ---- TB hopping with gaps (len 10m < slide 30m,
    //      wf/window_replica.hpp:267-273): rows between hops match no
    //      window and are dropped ----
    hopping.batch,

    // ---- CB tumbling (len 100) per key: count-index via row_number over
    //      (ts, id) — the reference's per-key arrival index
    //      (wf/window_structure.hpp:69-80, Triggerer_CB) ----
    Q("win_cb_tumbling",
      (s, dir) => {
        val idx = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), expr(Q.TsUsSpark).as("ts_us"), col("value"))
          .withColumn("i", row_number().over(idx) - 1)
          .withColumn("wid", expr("i div 100"))
          .groupBy("user_id", "wid")
          .agg(count(lit(1)).as("cnt"), expr(SumVal).as("sum_value"),
            min("event_id").as("first_event"), max("event_id").as("last_event"))
          .orderBy("user_id", "wid")
      },
      Some(winCbTumblingOracleSql)),

    // ---- CB sliding (len 100, slide 50) per key ----
    Q("win_cb_sliding",
      (s, dir) => {
        val idx = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), expr(Q.TsUsSpark).as("ts_us"), col("value"))
          .withColumn("i", row_number().over(idx) - 1)
          .withColumn("w", explode(expr(
            "sequence(CASE WHEN i >= 100 THEN (i - 100) div 50 + 1 ELSE 0 END, i div 50)")))
          .groupBy("user_id", "w")
          .agg(count(lit(1)).as("cnt"), expr(SumVal).as("sum_value"))
          .withColumnRenamed("w", "wid")
          .orderBy("user_id", "wid")
      },
      Some(winCbSlidingOracleSql)),

    // ---- CB sliding through the FlatFAT tree — the reference's
    //      test_win_fat_cb cell (/root/reference/tests/win_tests/
    //      test_win_fat_cb.cpp): the kernel is time/count agnostic, so
    //      leaves key by per-key ARRIVAL INDEX instead of event time;
    //      each row folds into the tree once (no len/slide explode
    //      multiplier) and every window is an O(log n) range combine
    //      incl. the non-invertible min/max. Leading partial windows
    //      (negative start in index space) are not part of the CB
    //      contract (wid ≥ 0, wf/window_structure.hpp Triggerer_CB)
    //      and are filtered out. ----
    Q("win_cb_sliding_ffat",
      (s, dir) => {
        val idx = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), expr(Q.TsUsSpark).as("ts_us"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("i", (row_number().over(idx) - 1).cast("long"))
          .groupBy("user_id")
          .agg(graft.operators.FlatFatWindows(col("i"), col("cents"), 100L, 50L).as("__wins"))
          .select(col("user_id"), explode(col("__wins")).as("__w"))
          .filter(col("__w.win_start_us") >= 0)
          .select(col("user_id"), expr("__w.win_start_us div 50").as("wid"),
            col("__w.cnt").as("cnt"), col("__w.sum_cents").as("sum_cents"),
            col("__w.min_cents").as("min_cents"), col("__w.max_cents").as("max_cents"))
          .orderBy("user_id", "wid")
      },
      Some(s"""
        WITH e AS (SELECT user_id, event_id, ${Q.TsUsDuck} AS ts_us,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        r AS (SELECT user_id, cents,
                ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - 1 AS i
              FROM e),
        x AS (SELECT user_id, cents,
                unnest(range(CASE WHEN i >= 100 THEN (i - 100) // 50 + 1 ELSE 0 END, i // 50 + 1)) AS wid
              FROM r)
        SELECT user_id, wid, COUNT(*) AS cnt, CAST(SUM(cents) AS BIGINT) AS sum_cents,
               MIN(cents) AS min_cents, MAX(cents) AS max_cents
        FROM x GROUP BY user_id, wid ORDER BY user_id, wid""")),

    // ---- CB hopping with gaps (len 20 < slide 50): only every 50th-index
    //      stretch of 20 rows per key lands in a window ----
    Q("win_cb_hopping",
      (s, dir) => {
        val idx = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), expr(Q.TsUsSpark).as("ts_us"), col("value"))
          .withColumn("i", row_number().over(idx) - 1)
          .withColumn("wmin", expr("CASE WHEN i >= 20 THEN (i - 20) div 50 + 1 ELSE 0 END"))
          .withColumn("wmax", expr("i div 50"))
          .withColumn("w", explode(expr("CASE WHEN wmin <= wmax THEN sequence(wmin, wmax) END")))
          .groupBy("user_id", "w")
          .agg(count(lit(1)).as("cnt"), expr(SumVal).as("sum_value"))
          .withColumnRenamed("w", "wid")
          .orderBy("user_id", "wid")
      },
      Some(winCbHoppingOracleSql)),

    // ---- session windows: absent from the reference ("No session windows
    //      anywhere in the library", SURVEY §2.4) — a free win from Spark's
    //      native session_window; oracle = lag/cumsum session split ----
    Q("win_tb_session",
      (s, dir) => Tables.events(s, dir)
        .select(col("user_id"), expr(s"timestamp_micros(${Q.TsUsSpark})").as("event_time"),
          col("value"))
        .groupBy(session_window(col("event_time"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("cnt"), expr(SumVal).as("sum_value"))
        .select(col("user_id"), expr("unix_micros(session_window.start)").as("session_start_us"),
          col("cnt"), col("sum_value"))
        .orderBy("user_id", "session_start_us"),
      Some(winTbSessionOracleSql)),

    // ---- non-incremental window logic: order statistics over the full
    //      sorted window buffer (Iterable flavor, wf/iterable.hpp:47-55) ----
    noninc.batch
  )
}
