package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Joins.
  *
  * The reference's only join is the two-stream event-time `Interval_Join`
  * (/root/reference/wf/interval_join.hpp:279-307): for an A-tuple at time t,
  * match B-tuples with ts in `[t+lower, t+upper]` (inclusive, bounds may be
  * negative), emit a projection with output ts = max of the two sides
  * (wf/interval_join.hpp:306). Its KP/DP modes (builders.hpp:1500,1520) are
  * physical data-distribution choices with identical results — in Spark the
  * distribution is Catalyst's problem (hash partitioning on the key), so one
  * logical operator covers both; the spec asserts KP/DP-style repartitioned
  * variants agree.
  *
  * Everything else here (equi/broadcast/semi/anti) is the analytic join
  * surface the reference does not have (SURVEY §2.5 "free in Spark").
  *
  * Scale notes: the interval join is an equi-join on the key with a range
  * post-filter — Catalyst plans a hash/sort-merge join on `user_id`, no
  * cartesian anywhere. `join_broadcast` pins the small dimension side with
  * `broadcast()` so the 100 TB fact scan never shuffles.
  */
object JoinQueries {

  private val JoinBoundUs = 30L * Q.MinuteUs

  // oracles the stream twins in StreamingQueries share by value
  private[queries] val intervalJoinOracleSql: String = s"""
        WITH e AS (SELECT event_id, user_id, event_type, ${Q.TsUsDuck} AS ts_us, value FROM events)
        SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id AS user_id,
               greatest(a.ts_us, b.ts_us) AS out_ts_us,
               a.value + b.value AS pair_value
        FROM e a JOIN e b
          ON a.user_id = b.user_id
         AND a.event_type = 'purchase' AND b.event_type = 'click'
         AND b.ts_us BETWEEN a.ts_us - $JoinBoundUs AND a.ts_us + $JoinBoundUs
        ORDER BY a_id, b_id"""

  private[queries] val joinAsofOracleSql: String = s"""
        WITH e AS (SELECT event_id, user_id, event_type, ${Q.TsUsDuck} AS ts_us, value FROM events),
        c AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'click'),
        p AS (SELECT user_id, ts_us, max(value) AS p_value FROM e
              WHERE event_type = 'purchase' GROUP BY user_id, ts_us)
        SELECT c.event_id, c.user_id, c.ts_us,
               p.ts_us AS asof_ts_us, p.p_value AS asof_p_value
        FROM c ASOF LEFT JOIN p
          ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
        ORDER BY c.event_id"""

  def all: Seq[Q] = Seq(
    Q("interval_join",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr(Q.TsUsSpark).as("ts_us"), col("value"))
        val a = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("a_id"), col("user_id"),
            col("ts_us").as("a_ts"), col("value").as("a_value"))
        val b = e.filter(col("event_type") === "click")
          .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
            col("ts_us").as("b_ts"), col("value").as("b_value"))
        a.join(b, col("user_id") === col("b_user") &&
            col("b_ts") >= col("a_ts") - JoinBoundUs &&
            col("b_ts") <= col("a_ts") + JoinBoundUs)
          .select(col("a_id"), col("b_id"), col("user_id"),
            greatest(col("a_ts"), col("b_ts")).as("out_ts_us"),
            (col("a_value") + col("b_value")).as("pair_value"))
          .orderBy("a_id", "b_id")
      },
      Some(intervalJoinOracleSql)),

    // asymmetric/negative bounds (the reference allows both bounds negative
    // — wf/interval_join.hpp:279-295; join_tests matrix in FIXTURES.md §4):
    // B-events strictly *before* each A-event, [t-45min, t-5min]
    Q("interval_join_asym",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr(Q.TsUsSpark).as("ts_us"))
        val a = e.filter(col("event_type") === "signup")
          .select(col("event_id").as("a_id"), col("user_id"), col("ts_us").as("a_ts"))
        val b = e.filter(col("event_type") === "view")
          .select(col("event_id").as("b_id"), col("user_id").as("b_user"), col("ts_us").as("b_ts"))
        a.join(b, col("user_id") === col("b_user") &&
            col("b_ts") >= col("a_ts") - 45L * Q.MinuteUs &&
            col("b_ts") <= col("a_ts") - 5L * Q.MinuteUs)
          .select(col("a_id"), col("b_id"), col("user_id"),
            greatest(col("a_ts"), col("b_ts")).as("out_ts_us"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""
        WITH e AS (SELECT event_id, user_id, event_type, ${Q.TsUsDuck} AS ts_us FROM events)
        SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id AS user_id,
               greatest(a.ts_us, b.ts_us) AS out_ts_us
        FROM e a JOIN e b
          ON a.user_id = b.user_id
         AND a.event_type = 'signup' AND b.event_type = 'view'
         AND b.ts_us BETWEEN a.ts_us - ${45L * Q.MinuteUs} AND a.ts_us - ${5L * Q.MinuteUs}
        ORDER BY a_id, b_id""")),

    // as-of join ("latest purchase at-or-before each click, per user"):
    // no native Spark operator, and the naive key-equi + ts<=ts range
    // join explodes per hot key — AsofJoin renders it as union + one
    // ordered window carry (one Exchange, NO join node, plan-asserted).
    // DuckDB's native ASOF LEFT JOIN is the oracle. Right side is
    // pre-aggregated to one row per (user, ts) per the operator contract.
    Q("join_asof",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr(Q.TsUsSpark).as("ts_us"), col("value"))
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us")
        val purchases = e.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts_us").agg(max("value").as("p_value"))
        graft.operators.AsofJoin.lastAtOrBefore(clicks, purchases, "user_id", "ts_us")
          .orderBy("event_id")
      },
      Some(joinAsofOracleSql)),

    // generalized as-of: composite key (user_id, day) + max-lookback
    // tolerance — the feature-store ask ("latest snapshot at example
    // time, same entity AND shard, no staler than 45 min"). Same
    // union + window-carry plan (no join node); the tolerance is a pure
    // per-row predicate over the carried ts. Oracle = DuckDB native ASOF
    // LEFT JOIN with the extra key equality, tolerance via post-CASE.
    Q("join_asof_tol",
      (s, dir) => {
        val tol = 45L * Q.MinuteUs
        val dayUs = 24L * Q.HourUs
        val e = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr(Q.TsUsSpark).as("ts_us"), col("value"))
          .withColumn("day", expr(s"ts_us div $dayUs"))
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "day", "ts_us")
        val purchases = e.filter(col("event_type") === "purchase")
          .groupBy("user_id", "day", "ts_us").agg(max("value").as("p_value"))
        graft.operators.AsofJoin.lastAtOrBefore(clicks, purchases,
          Seq("user_id", "day"), "ts_us", toleranceUs = tol)
          .orderBy("event_id")
      },
      Some(s"""
        WITH e AS (SELECT event_id, user_id, event_type, ${Q.TsUsDuck} AS ts_us, value FROM events),
        c AS (SELECT event_id, user_id, ts_us // ${24L * Q.HourUs} AS day, ts_us
              FROM e WHERE event_type = 'click'),
        p AS (SELECT user_id, ts_us // ${24L * Q.HourUs} AS day, ts_us, max(value) AS p_value
              FROM e WHERE event_type = 'purchase' GROUP BY user_id, day, ts_us),
        j AS (SELECT c.event_id, c.user_id, c.day, c.ts_us,
                     p.ts_us AS m_ts, p.p_value AS m_value
              FROM c ASOF LEFT JOIN p
                ON c.user_id = p.user_id AND c.day = p.day AND c.ts_us >= p.ts_us)
        SELECT event_id, user_id, day, ts_us,
               CASE WHEN m_ts >= ts_us - ${45L * Q.MinuteUs} THEN m_ts END AS asof_ts_us,
               CASE WHEN m_ts >= ts_us - ${45L * Q.MinuteUs} THEN m_value END AS asof_p_value
        FROM j ORDER BY event_id""")),

    // band (range) self-join: event pairs whose values are within 1 cent.
    // No equi-key ⇒ Spark would plan the naive form as a nested-loop /
    // cartesian O(n²); RangeJoin buckets the value axis (bucket = cents
    // div width, probe side explodes ±1) so it becomes an ordinary
    // equi-join plus an exact band filter — covered by the registry-wide
    // no-NL-join plan sweep. Cents quantization keeps bucket math and
    // the predicate exact in both engines.
    Q("join_range_band",
      (s, dir) => {
        // fanOut: the band join explodes each row into bucket candidates
        // before its one hash shuffle — heavy per-row work that serialized
        // on the degenerate 1-split local scan (measured −0.47 s in r16;
        // the only join row where §2.5 applies)
        val ev = Tables.events(s, dir, fanOut = true).select(col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        graft.operators.RangeJoin.bandSelfJoin(ev, "event_id", "cents", width = 2L)
          .orderBy("a_id", "b_id")
      },
      Some(s"""
        WITH e AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        SELECT a.event_id AS a_id, b.event_id AS b_id,
               a.cents AS a_cents, b.cents AS b_cents
        FROM e a JOIN e b
          ON a.event_id < b.event_id AND abs(a.cents - b.cents) < 2
        ORDER BY a_id, b_id""")),

    Q("join_equi",
      (s, dir) => Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").as("revenue"))
        .orderBy("c_mktsegment"),
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Q("join_broadcast",
      (s, dir) => Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).filter(col("p_size") < 15)),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)").as("sum_qty"))
        .orderBy("p_brand"),
      Some("""
        SELECT p_brand, COUNT(*) AS n_items,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_size < 15 GROUP BY p_brand ORDER BY p_brand""")),

    // 3-way analytic join (TPC-H Q3 flavor): the composite plan the
    // analytic surface exists for — two hash joins + agg + topk, with the
    // dimension side broadcastable.
    Q("q3_shipping",
      (s, dir) => Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(20)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"),
          col("revenue"), col("n_items")),
      Some("""
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey LIMIT 20""")),

    Q("join_semi",
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_totalprice") > 200000.0),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
        ORDER BY c_custkey""")),

    Q("join_anti",
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        ORDER BY c_custkey"""))
  )
}
