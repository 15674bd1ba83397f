package graft.queries

import org.apache.spark.sql.functions._
import graft.Exact._
import graft.sources.Tables
import graft.operators.Geo

/** Additional engine surface: semi-structured (JSON) extraction and
  * geo nearest-neighbor (SURVEY.md §2 cross-cutting; reference anchors
  * daemon/src/coordinates.rs and the events' JSON props).
  */
object ExtrasCatalog {

  // q25 — JSON property extraction + rollup (events.props is a JSON
  // string; the reference oracle stores entry choices as JSON blobs in
  // its event DB, event_data.rs).

  private val q25 = Q(
    "q25_json_props",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type,
           |  CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT)) AS BIGINT) AS sum_k,
           |  COUNT(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT)) AS n_k,
           |  MAX(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT)) AS max_k
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  // q26 — nearest-hub join on deterministic pseudo-coordinates
  // (coordinates.rs grid mapping → broadcast NN argmin).

  private val q26 = Q(
    "q26_nearest_hub",
    (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"),
        ((col("c_custkey") * 7) % 180 - 90).cast("double").as("llat"),
        ((col("c_custkey") * 13) % 360 - 180).cast("double").as("llon"))
      val su = Tables.supplier(s, dir).select(col("s_suppkey"),
        ((col("s_suppkey") * 11) % 180 - 90).cast("double").as("rlat"),
        ((col("s_suppkey") * 17) % 360 - 180).cast("double").as("rlon"))
      Geo.nearestJoin(c, col("c_custkey"), col("llat"), col("llon"),
          su, col("s_suppkey"), col("rlat"), col("rlon"))
        .orderBy(col("left_id"))
    },
    Some("""WITH c AS (SELECT c_custkey, CAST((c_custkey*7) % 180 - 90 AS DOUBLE) AS llat,
           |    CAST((c_custkey*13) % 360 - 180 AS DOUBLE) AS llon FROM customer),
           |s AS (SELECT s_suppkey, CAST((s_suppkey*11) % 180 - 90 AS DOUBLE) AS rlat,
           |    CAST((s_suppkey*17) % 360 - 180 AS DOUBLE) AS rlon FROM supplier),
           |sc AS (SELECT c_custkey, s_suppkey,
           |    (llat-rlat)*(llat-rlat) + (llon-rlon)*(llon-rlon) AS d2 FROM c, s)
           |SELECT c_custkey AS left_id, s_suppkey AS right_id, d2 FROM (
           |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY d2, s_suppkey) AS rn FROM sc) t
           |WHERE rn = 1 ORDER BY left_id""".stripMargin))

  // q31 — multi-granularity ROLLUP (the dashboard fragments aggregate
  // per-station, per-day, and global: event_stats.rs / dashboard.rs).
  // Subtotal rows labeled via COALESCE so both engines agree on the
  // representation.

  private val q31 = Q(
    "q31_rollup_grouping",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("date", to_date(col("ts")).cast("string"))
        .rollup(col("event_type"), col("date"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("date"), lit("ALL")).as("date"),
          col("n"), col("sum_value"))
        .orderBy(col("event_type"), col("date")),
    Some("""SELECT COALESCE(event_type, 'ALL') AS event_type,
           |  COALESCE(date, 'ALL') AS date,
           |  COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM (SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS date, value FROM events) t
           |GROUP BY ROLLUP(event_type, date)
           |ORDER BY 1, 2""".stripMargin))

  // q32 — anti-join (events with no entries pattern; q19's complement)

  private val q32 = Q(
    "q32_anti_join",
    (s, dir) => {
      val big = Tables.lineitem(s, dir).filter(col("l_quantity") >= 45).select(col("l_orderkey"))
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS n FROM orders
           |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45)
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  // q33 — edit distance (fuzzy station/name matching surface)

  private val q33 = Q(
    "q33_edit_distance",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          levenshtein(substring(col("text"), 1, 12), lit("key agg row")).as("lev"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, levenshtein(text[1:12], 'key agg row') AS lev
           |FROM documents ORDER BY doc_id""".stripMargin))

  // q34 — deterministic string aggregation (distinct sorted set join)

  private val q34 = Q(
    "q34_string_agg",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"))
        .orderBy(col("user_id")),
    Some("""SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  // q35 — arbitrary-SQL entry point. The reference's actual product
  // surface is ad-hoc SQL over the parquet lake (weather_data.rs:74
  // query() and the DuckDB-WASM UI run user-typed SQL verbatim); the
  // Spark analog is temp views + spark.sql. The statement exercises a
  // CTE, a grouped rollup, and a running-total window — the shape of a
  // dashboard query a user would type.

  private val q35 = Q(
    "q35_adhoc_sql",
    (s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_v")
      s.sql("""WITH daily AS (
              |  SELECT user_id, CAST(CAST(ts AS DATE) AS STRING) AS date, COUNT(*) AS n
              |  FROM events_v GROUP BY 1, 2)
              |SELECT user_id, date, n,
              |  SUM(n) OVER (PARTITION BY user_id ORDER BY date ROWS UNBOUNDED PRECEDING) AS cum_n
              |FROM daily ORDER BY user_id, date""".stripMargin)
    },
    Some("""WITH daily AS (
           |  SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS date, COUNT(*) AS n
           |  FROM events GROUP BY 1, 2)
           |SELECT user_id, date, n,
           |  CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY date ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
           |FROM daily ORDER BY user_id, date""".stripMargin))

  // q45 — parameterized ad-hoc SQL (weather_data.rs:74-86 query():
  // the reference binds $n placeholders into a prepared statement
  // before running user SQL — the endpoint a real user hits most).
  // Values bind through spark.sql's parameter map, never into the SQL
  // text; Adhoc.query also enforces read-only (AdhocSpec covers
  // injection attempts, $n-in-literal, and command rejection).

  private val q45 = Q(
    "q45_param_sql",
    (s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_v")
      graft.operators.Adhoc.query(s,
        """SELECT event_id, user_id, value FROM events_v
          |WHERE event_type = $1 AND value >= $2
          |ORDER BY event_id LIMIT 100""".stripMargin,
        Seq("click", 50.0))
    },
    Some("""SELECT event_id, user_id, value FROM events
           |WHERE event_type = 'click' AND value >= 50.0
           |ORDER BY event_id LIMIT 100""".stripMargin))

  // q36 — bucketed-storage dedup-latest: write events bucketed by
  // user_id (Lake.writeBucketed), read the TABLE back, and run the
  // latest-per-key window — the bucketing carries the partitioning, so
  // the window runs with NO Exchange (measured by a probe since
  // deleted; this query puts the result itself through the oracle
  // gate). This is the 100 TB answer to the reference's per-station
  // access pattern: lay the lake out by station/user key once, and
  // every dedup-latest / rollup on that key becomes shuffle-free.

  private val q36 = Q(
    "q36_bucketed_latest",
    (s, dir) => {
      val tbl = "graft_bucketed_events"
      graft.sources.Lake.writeBucketed(
        Tables.events(s, dir).drop("ts_ns"), tbl, "user_id",
        graft.GraftSession.profileOf(s).lakeBuckets,
        Some(s"/tmp/graft_bucketed/${new java.io.File(dir).getName}"))
      val e = s.table(tbl)
      graft.operators.Rollups.latestPerKey(e, Seq(col("user_id")), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id, value FROM (
           |  SELECT user_id, event_id, value,
           |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin))

  // q37 — keyset-stable pagination (filtered_list_events,
  // event_data.rs:635: filtered listing with LIMIT/OFFSET pages).
  // Total ORDER BY makes the page deterministic; at 100 TB prefer
  // keyset pagination (WHERE key > last_seen) — OFFSET still scans the
  // skipped prefix — but the surface itself is part of the contract.

  private val q37 = Q(
    "q37_pagination",
    (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"), to_date(col("o_orderdate")).as("order_date"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(20).limit(10),
    Some("""SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
           |FROM orders WHERE o_orderpriority = '1-URGENT'
           |ORDER BY o_totalprice DESC, o_orderkey
           |LIMIT 10 OFFSET 20""".stripMargin))

  // q38 — as-of join (brief: "an operator Spark lacks"): for each
  // click event, the latest purchase value at-or-before its time per
  // user — the reference's score-against-last-forecast-before-cutoff
  // lookup (oracle.rs:484-770). Union + ignore-nulls window: ONE
  // shuffle on the key, no range cross-join (Rollups.asOfJoin).

  private val q38 = Q(
    "q38_asof_join",
    (s, dir) => {
      val e = Tables.events(s, dir).withColumn("ms", expr("ts_ns div 1000000"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ms"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms"), col("value"), col("event_id").as("pid"))
      graft.operators.Rollups.asOfJoin(clicks, purchases, "user_id", "ms", "ms", "value", "pid")
        .orderBy(col("event_id"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type, value, epoch_ns(ts)//1000000 AS ms FROM events),
           |l AS (SELECT event_id, user_id, ms, 0 AS isr, CAST(NULL AS DOUBLE) AS v, CAST(0 AS BIGINT) AS tb
           |  FROM e WHERE event_type = 'click'),
           |r AS (SELECT CAST(NULL AS BIGINT) AS event_id, user_id, ms, 1 AS isr, v, tb FROM (
           |  SELECT user_id, ms, value AS v, event_id AS tb FROM e WHERE event_type = 'purchase')),
           |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
           |w AS (SELECT *, last_value(v IGNORE NULLS) OVER (
           |    PARTITION BY user_id ORDER BY ms ASC, isr DESC, tb ASC
           |    ROWS UNBOUNDED PRECEDING) AS asof_value
           |  FROM u)
           |SELECT event_id, user_id, ms, asof_value FROM w WHERE isr = 0
           |ORDER BY event_id""".stripMargin))

  // q39 — tumbling-window rollup, batch semantics of the streaming
  // windowedRollup (EventStream): Spark's window() function; the
  // bucket is exported as epoch-ms of the window start (integer both
  // engines — no timestamp-format hazard).

  private val q39 = Q(
    "q39_tumbling_window",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "6 hours"))
        .agg(dsum(col("value")).as("sum_value"), count(lit(1)).as("n"))
        .select(col("user_id"),
          (col("window.start").cast("long") * 1000).as("w_start_ms"),
          col("sum_value"), col("n"))
        .orderBy(col("user_id"), col("w_start_ms")),
    Some("""SELECT user_id,
           |  (epoch_ns(ts)//1000000) - (epoch_ns(ts)//1000000) % 21600000 AS w_start_ms,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           |  COUNT(*) AS n
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  // q40 — exact interpolated percentiles (dashboard stats surface).
  // Spark percentile() and DuckDB quantile_cont share the same
  // (1-g)·lo + g·hi definition and produce bit-identical doubles on
  // this data (verified incl. a 14.247499999999999 repr).

  private val q40 = Q(
    "q40_percentiles",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.25)").as("p25"),
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.75)").as("p75"),
          expr("percentile(value, 0.9)").as("p90"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type,
           |  quantile_cont(value, 0.25) AS p25,
           |  quantile_cont(value, 0.5) AS p50,
           |  quantile_cont(value, 0.75) AS p75,
           |  quantile_cont(value, 0.9) AS p90
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  // q41 — value histogram via integer floor-bucketing (DuckDB 1.0 has
  // no width_bucket; integer floor math is portable and exact).

  private val q41 = Q(
    "q41_histogram",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("bucket", least(floor(col("value") / 50).cast("bigint"), lit(9L)))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bucket")),
    Some("""SELECT event_type, LEAST(CAST(FLOOR(value / 50) AS BIGINT), 9) AS bucket, COUNT(*) AS n
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  // q42 — covariance/corr inputs via decimal-exact sums (float corr()
  // accumulates order-dependently; exact decimal Σx, Σy, Σxy + double
  // division is deterministic across engines and partitionings).

  private val q42 = Q(
    "q42_covar_exact",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .filter(col("k").isNotNull)
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("sum_x"),
          sum(col("k")).cast("double").as("sum_y"),
          dsum2(dec(col("value")) * col("k")).as("sum_xy"))
        .withColumn("covar",
          (col("sum_xy") - col("sum_x") * col("sum_y") / col("n")) / col("n"))
        .select(col("event_type"), col("n"), col("covar"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, n,
           |  (sum_xy - sum_x * sum_y / n) / n AS covar
           |FROM (
           |  SELECT event_type, COUNT(*) AS n,
           |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
           |    CAST(CAST(SUM(k) AS BIGINT) AS DOUBLE) AS sum_y,
           |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * k) AS DOUBLE) AS sum_xy
           |  FROM (SELECT event_type, value, CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k
           |    FROM events) t
           |  WHERE k IS NOT NULL
           |  GROUP BY event_type) s
           |ORDER BY event_type""".stripMargin))

  // q43 — bounded-range join (brief: "an operator Spark lacks"): each
  // purchase defines a ±5-minute window; count the user's clicks
  // inside it (zero-filled). Bucket-explode equi-join — one shuffle,
  // no BroadcastNestedLoop/cartesian (Rollups.boundedRangeJoin); the
  // oracle states the same thing as a plain BETWEEN join, tractable at
  // oracle scale.

  private val q43 = Q(
    "q43_range_join",
    (s, dir) => {
      val e = Tables.events(s, dir).withColumn("ms", expr("ts_ns div 1000000"))
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          (col("ms") - 300000L).as("w_start"), (col("ms") + 300000L).as("w_end"))
      val clk = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ms").as("cms"))
      val matched = graft.operators.Rollups
        .boundedRangeJoin(pur, clk, "user_id", "w_start", "w_end", "cms", 600000L)
        .groupBy(col("pid")).agg(count(lit(1)).as("n"))
      pur.join(matched, Seq("pid"), "left")
        .select(col("pid"), col("user_id"), coalesce(col("n"), lit(0L)).as("n_clicks"))
        .orderBy(col("pid"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts)//1000000 AS ms FROM events),
           |pur AS (SELECT event_id AS pid, user_id, ms - 300000 AS w_start, ms + 300000 AS w_end
           |  FROM e WHERE event_type = 'purchase'),
           |clk AS (SELECT user_id, ms AS cms FROM e WHERE event_type = 'click')
           |SELECT p.pid, p.user_id, CAST(COUNT(c.cms) AS BIGINT) AS n_clicks
           |FROM pur p LEFT JOIN clk c
           |  ON c.user_id = p.user_id AND c.cms >= p.w_start AND c.cms <= p.w_end
           |GROUP BY 1, 2 ORDER BY pid""".stripMargin))

  // q52 — the single-pass dedup-latest (Rollups.latestPerKeyAgg):
  // max_by aggregation instead of the q9 window — partial aggregation
  // collapses map-side, so the shuffle carries one row per key per
  // mapper instead of every row (the default at scale; a probe, since
  // deleted, measured the difference). Same result contract as q9's
  // DISTINCT ON, so the oracle is the same row_number replay.

  private val q52 = Q(
    "q52_latest_agg",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val ord = struct(col("ts"), col("event_id"))
      graft.operators.Rollups.latestPerKeyAgg(e, Seq(col("user_id")), ord, Seq("event_id", "value"))
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id, value FROM (
           |  SELECT user_id, event_id, value,
           |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin))

  // q61 — conversion funnel over the event stream: first click per
  // user, then the first purchase strictly after it, conversion =
  // within 24 h. The reference's event lifecycle (created → entries →
  // completed, event_data.rs state transitions) is this two-step
  // sequential-pattern shape. Two aggregations on user_id (both with
  // map-side partial min) + one join — time stays in exact integer ms
  // (ts_ns div, no double rounding).

  private val q61 = Q(
    "q61_funnel",
    (s, dir) => {
      val e = Tables.events(s, dir).withColumn("ms", expr("ts_ns div 1000000"))
      val first = e.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ms")).as("click_ms"))
      val conv = e.filter(col("event_type") === "purchase")
        .join(first, Seq("user_id"))
        .filter(col("ms") > col("click_ms"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("purchase_ms"))
      first.join(conv, Seq("user_id"), "left")
        .withColumn("delay_ms", col("purchase_ms") - col("click_ms"))
        .withColumn("converted",
          coalesce(col("delay_ms") <= 86400000L, lit(false)).cast("int"))
        .select(col("user_id"), col("click_ms"), col("purchase_ms"),
          col("delay_ms"), col("converted"))
        .orderBy(col("user_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000000 AS ms FROM events),
           |f AS (SELECT user_id, MIN(ms) AS click_ms FROM e WHERE event_type = 'click' GROUP BY 1),
           |c AS (SELECT e.user_id, MIN(e.ms) AS purchase_ms
           |  FROM e JOIN f USING (user_id)
           |  WHERE e.event_type = 'purchase' AND e.ms > f.click_ms GROUP BY 1)
           |SELECT f.user_id, f.click_ms, c.purchase_ms,
           |  c.purchase_ms - f.click_ms AS delay_ms,
           |  CAST(COALESCE(c.purchase_ms - f.click_ms <= 86400000, FALSE) AS INT) AS converted
           |FROM f LEFT JOIN c ON f.user_id = c.user_id
           |ORDER BY f.user_id""".stripMargin))

  // q62 — trailing 7-row moving average over the per-user daily
  // rollup (the reference's daily_observations smoothing shape). Two
  // exchanges, NEITHER carrying raw events: map-side partial agg
  // collapses events to (user, day) partials before the (user, date)
  // exchange, and the window's user_id exchange moves one row per
  // user-day ((u,d)-hash does not satisfy the window's u-clustering —
  // repartitioning raw events by user_id first would save that
  // exchange but ship every event row, a bad trade at scale).
  // Exact decimal window sums + one double division per row.

  private val q62 = Q(
    "q62_moving_avg",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).cast("string").as("date"))
        .agg(sum(dec(col("value"))).as("day_sum"), count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("date")).rowsBetween(-6, 0)
      daily
        .withColumn("ma7", sum(col("day_sum")).over(w).cast("double") / sum(col("n")).over(w))
        .select(col("user_id"), col("date"),
          col("day_sum").cast("double").as("day_sum"), col("ma7"))
        .orderBy(col("user_id"), col("date"))
    },
    Some("""WITH daily AS (
           |  SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS date,
           |    SUM(CAST(value AS DECIMAL(18,2))) AS day_sum, COUNT(*) AS n
           |  FROM events GROUP BY 1, 2)
           |SELECT user_id, date, CAST(day_sum AS DOUBLE) AS day_sum,
           |  CAST(SUM(day_sum) OVER w AS DOUBLE) / SUM(n) OVER w AS ma7
           |FROM daily
           |WINDOW w AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
           |ORDER BY user_id, date""".stripMargin))

  // q63 — pivot: per-user metric matrix, one column per event_type
  // (RelationalGroupedDataset.pivot with EXPLICIT values — never the
  // values-discovery scan, which is a collect() at scale). Absent
  // (user, type) cells are NULL in both engines.

  private val q63 = Q(
    "q63_pivot",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(dsum(col("value")))
        .orderBy(col("user_id")),
    Some("""SELECT user_id,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS "click",
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'error') AS DOUBLE) AS "error",
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS "purchase",
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'signup') AS DOUBLE) AS "signup",
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS "view"
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  // q64 — sliding-window rollup (2 h window, 1 h slide): the batch
  // semantics of streaming sliding windows. window() replicates each
  // event into w/s = 2 aligned windows before ONE grouped aggregation
  // (map-side partial) — the oracle states the same replication as a
  // generate_series cross join. Bucket exported as epoch-ms (integer
  // both engines).

  private val q64 = Q(
    "q64_sliding_window",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "2 hours", "1 hour"))
        .agg(dsum(col("value")).as("sum_value"), count(lit(1)).as("n"))
        .select(col("user_id"),
          (col("window.start").cast("long") * 1000).as("w_start_ms"),
          col("sum_value"), col("n"))
        .orderBy(col("user_id"), col("w_start_ms")),
    Some("""WITH x AS (SELECT user_id, value,
           |    (epoch_ns(ts)//1000000) - (epoch_ns(ts)//1000000) % 3600000 - k.g * 3600000 AS w_start_ms
           |  FROM events CROSS JOIN generate_series(0, 1) k(g))
           |SELECT user_id, w_start_ms,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, COUNT(*) AS n
           |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  // q72 — anomaly days with EXACT arithmetic: a user's day is
  // anomalous when its average deviates from the user's overall
  // average by > 25. Both averages are ratios of exact decimal sums,
  // so the rule is evaluated by cross-multiplication —
  // |s_d·N − S·n_d| > 25·n_d·N — entirely in DECIMAL: no float
  // accumulation anywhere, so the flagged set is identical across
  // engines AND across cluster partitionings (a float z-score's
  // Σ(x−μ)² would be fold-order-dependent). The weather shape:
  // flag the days a station's readings went wild.

  private val q72 = Q(
    "q72_anomaly_days",
    (s, dir) => {
      // pinned downcast with a width-violation guard: in non-ANSI Spark
      // an overflowing decimal cast is silently NULL (the row would
      // vanish from the anomaly filter) while DuckDB raises — so raise
      // here too, keeping the cross-engine contract loud at any SF.
      // The raise_error branch only evaluates on an actual overflow.
      def pinned(c: org.apache.spark.sql.Column, typ: String,
          name: String): org.apache.spark.sql.Column =
        when(c.isNotNull && c.cast(typ).isNull,
          raise_error(concat(lit(s"q72: $name exceeds pinned $typ: "), c.cast("string"))).cast(typ))
          .otherwise(c.cast(typ))
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).cast("string").as("date"))
        .agg(sum(dec(col("value"))).as("s_d"), count(lit(1)).as("n_d"))
      val totals = daily.groupBy(col("user_id"))
        .agg(pinned(sum(col("s_d")), "decimal(18,2)", "s_tot").as("s_tot"),
          sum(col("n_d")).as("n_tot"))
      // cross-multiplication with PINNED widths: (18,2)×(10,0) →
      // (29,2), exact in both engines — the unbounded sum decimals
      // would push the product past precision 38 and silently round
      daily.join(totals, Seq("user_id"))
        .withColumn("sd2", pinned(col("s_d"), "decimal(18,2)", "s_d"))
        .withColumn("nd2", pinned(col("n_d"), "decimal(10,0)", "n_d"))
        .withColumn("nt2", pinned(col("n_tot"), "decimal(10,0)", "n_tot"))
        .filter(abs(col("sd2") * col("nt2") - col("s_tot") * col("nd2"))
          > lit(25).cast("decimal(3,0)") * col("nd2") * col("nt2"))
        .select(col("user_id"), col("date"),
          (col("s_d").cast("double") / col("n_d")).as("day_avg"),
          (col("s_tot").cast("double") / col("n_tot")).as("user_avg"))
        .orderBy(col("user_id"), col("date"))
    },
    Some("""WITH daily AS (
           |  SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS date,
           |    SUM(CAST(value AS DECIMAL(18,2))) AS s_d, COUNT(*) AS n_d
           |  FROM events GROUP BY 1, 2),
           |tot AS (SELECT user_id, CAST(SUM(s_d) AS DECIMAL(18,2)) AS s_tot,
           |    CAST(SUM(n_d) AS BIGINT) AS n_tot
           |  FROM daily GROUP BY 1)
           |SELECT d.user_id, d.date,
           |  CAST(d.s_d AS DOUBLE) / d.n_d AS day_avg,
           |  CAST(t.s_tot AS DOUBLE) / t.n_tot AS user_avg
           |FROM daily d JOIN tot t ON d.user_id = t.user_id
           |WHERE ABS(CAST(d.s_d AS DECIMAL(18,2)) * CAST(t.n_tot AS DECIMAL(10,0))
           |        - t.s_tot * CAST(d.n_d AS DECIMAL(10,0)))
           |  > CAST(25 AS DECIMAL(3,0)) * CAST(d.n_d AS DECIMAL(10,0)) * CAST(t.n_tot AS DECIMAL(10,0))
           |ORDER BY d.user_id, d.date""".stripMargin))

  // q73 — interval union/merge: each purchase spans ±30 min; merge a
  // user's overlapping spans into maximal intervals (the classic
  // running-max-end + group-start-flag window chain — ONE exchange on
  // the user key, everything else window arithmetic on exact integer
  // ms). The reference's qpf interval-chain detection (q10/q16) is
  // this shape; merge is its union form.

  private val q73 = Q(
    "q73_interval_merge",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spans = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .withColumn("ms", expr("ts_ns div 1000000"))
        .select(col("user_id"), (col("ms") - 1800000L).as("st"), (col("ms") + 1800000L).as("en"))
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("st"), col("en"))
      val prevMax = max(col("en")).over(byUser.rowsBetween(Window.unboundedPreceding, -1))
      val grouped = spans
        .withColumn("new_grp", when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L))
        .withColumn("grp", sum(col("new_grp")).over(byUser))
      grouped.groupBy(col("user_id"), col("grp"))
        .agg(min(col("st")).as("g_start"), max(col("en")).as("g_end"),
          count(lit(1)).as("n_spans"))
        .select(col("user_id"), col("g_start"), col("g_end"), col("n_spans"))
        .orderBy(col("user_id"), col("g_start"))
    },
    Some("""WITH spans AS (
           |  SELECT user_id, epoch_ns(ts)//1000000 - 1800000 AS st, epoch_ns(ts)//1000000 + 1800000 AS en
           |  FROM events WHERE event_type = 'purchase'),
           |flagged AS (
           |  SELECT user_id, st, en,
           |    CASE WHEN MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           |      OR st > MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      THEN 1 ELSE 0 END AS new_grp
           |  FROM spans),
           |grouped AS (SELECT user_id, st, en,
           |    SUM(new_grp) OVER (PARTITION BY user_id ORDER BY st, en
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           |  FROM flagged)
           |SELECT user_id, MIN(st) AS g_start, MAX(en) AS g_end, COUNT(*) AS n_spans
           |FROM grouped GROUP BY user_id, grp
           |ORDER BY user_id, g_start""".stripMargin))

  // q103 — two-window value-distribution drift per event_type (the
  // between-batches data-quality monitor): events split at the exact
  // integer-µs midpoint of the observed time range, values bucketed
  // like q41, per-bucket ppm proportions and |Δppm| in exact integers
  // (PSI's ranking signal without its non-portable log). One
  // conditional-agg pass over the corpus; totals broadcast back.

  private val q103 = Q(
    "q103_dist_drift",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val mid = e.agg(expr("(MIN(unix_micros(ts)) + MAX(unix_micros(ts))) DIV 2").as("mid_us"))
      graft.operators.Stats.distributionDrift(
          e.crossJoin(broadcast(mid)),
          col("event_type"), unix_micros(col("ts")) > col("mid_us"), col("value"), 50, 9)
        .withColumnRenamed("grp", "event_type")
        .orderBy(col("event_type"), col("bucket"))
    },
    Some("""WITH mid AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid_us FROM events),
           |c AS (SELECT event_type, LEAST(CAST(FLOOR(value / 50) AS BIGINT), 9) AS bucket,
           |    CASE WHEN epoch_us(ts) > mid_us THEN 1 ELSE 0 END AS wb
           |  FROM events CROSS JOIN mid),
           |counts AS (SELECT event_type, bucket, CAST(SUM(1 - wb) AS BIGINT) AS n_a,
           |    CAST(SUM(wb) AS BIGINT) AS n_b FROM c GROUP BY 1, 2),
           |tot AS (SELECT event_type, CAST(SUM(n_a) AS BIGINT) AS tot_a,
           |    CAST(SUM(n_b) AS BIGINT) AS tot_b FROM counts GROUP BY 1)
           |SELECT c.event_type, c.bucket, c.n_a, c.n_b,
           |  CASE WHEN tot_a = 0 THEN 0 ELSE n_a * 1000000 // tot_a END AS ppm_a,
           |  CASE WHEN tot_b = 0 THEN 0 ELSE n_b * 1000000 // tot_b END AS ppm_b,
           |  ABS((CASE WHEN tot_a = 0 THEN 0 ELSE n_a * 1000000 // tot_a END)
           |    - (CASE WHEN tot_b = 0 THEN 0 ELSE n_b * 1000000 // tot_b END)) AS drift_ppm
           |FROM counts c JOIN tot USING (event_type)
           |ORDER BY event_type, bucket""".stripMargin))

  // q109_zorder_prune — Z-order-clustered lake write + pruned read
  // (Lake.writeZOrdered): events are laid out on the Morton key of
  // (user_id, floor(value)), then read back under a range predicate on
  // both dimensions. The RESULT is layout-independent (the oracle runs
  // the plain filter over events); the layout is the point — each file
  // covers a compact (user, value) region, so parquet min/max stats
  // prune files the predicate can't touch (ZOrderSpec measures the
  // file-overlap shrink vs arrival order). The write+read shape is the
  // q36/q46 precedent.

  private val q109 = Q(
    "q109_zorder_prune",
    (s, dir) => {
      val path = s"/tmp/graft_zorder/${new java.io.File(dir).getName}"
      graft.sources.Lake.writeZOrdered(Tables.events(s, dir).drop("ts_ns"), path,
        col("user_id"), floor(col("value")).cast("long"), 14, 16)
      s.read.parquet(path)
        .filter(col("user_id").between(4, 11) && col("value") >= 50.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM events WHERE user_id BETWEEN 4 AND 11 AND value >= 50.0
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  // q112_validate — Deequ-style constraint report (operators/Validate)
  // over a corpus with PLANTED violations (verbatim re-appends for key
  // dups; null / out-of-range / unknown-type / dangling-FK mutations
  // on disjoint id slices). Row rules share ONE scan; uniqueness is a
  // partial-agg excess count; referential is a LEFT ANTI join whose
  // null keys count as dangling in BOTH engines (the oracle uses
  // NOT EXISTS, not NOT IN — NOT IN over a null key returns no rows).

  private val q112 = Q(
    "q112_validate",
    (s, dir) => {
      val e = Tables.events(s, dir).drop("ts_ns")
      def slice(m: Int) = e.filter(pmod(col("event_id"), lit(m)) === 0)
      val corrupted = e
        .unionByName(slice(97))
        .unionByName(slice(101).withColumn("user_id", lit(null).cast("long"))
          .withColumn("event_id", col("event_id") + 1000000000L))
        .unionByName(slice(103).withColumn("value", col("value") * 1000)
          .withColumn("event_id", col("event_id") + 2000000000L))
        .unionByName(slice(89).withColumn("user_id", col("user_id") + 900000000L)
          .withColumn("event_id", col("event_id") + 3000000000L))
        .unionByName(slice(107).withColumn("event_type", lit("graft_bad_type"))
          .withColumn("event_id", col("event_id") + 4000000000L))
      graft.operators.Validate.report(corrupted,
        Seq(
          graft.operators.Validate.RowRule("r1_user_not_null", col("user_id").isNull),
          graft.operators.Validate.RowRule("r2_value_in_range",
            col("value") < 0 || col("value") > 1000),
          graft.operators.Validate.RowRule("r3_type_known",
            !col("event_type").isin("click", "error", "purchase", "signup", "view"))),
        uniqueKeys = Seq(("u1_event_id_unique", col("event_id"))),
        refs = Seq(("f1_user_in_customer", col("user_id"),
          Tables.customer(s, dir), col("c_custkey"))))
    },
    Some("""WITH corrupted AS (
           |  SELECT event_id, user_id, event_type, value FROM events
           |  UNION ALL SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 97 = 0
           |  UNION ALL SELECT event_id + 1000000000, NULL, event_type, value FROM events WHERE event_id % 101 = 0
           |  UNION ALL SELECT event_id + 2000000000, user_id, event_type, value * 1000 FROM events WHERE event_id % 103 = 0
           |  UNION ALL SELECT event_id + 3000000000, user_id + 900000000, event_type, value FROM events WHERE event_id % 89 = 0
           |  UNION ALL SELECT event_id + 4000000000, user_id, 'graft_bad_type', value FROM events WHERE event_id % 107 = 0),
           |rows_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
           |    CAST(COUNT(*) FILTER (WHERE user_id IS NULL) AS BIGINT) AS v1,
           |    CAST(COUNT(*) FILTER (WHERE value < 0 OR value > 1000) AS BIGINT) AS v2,
           |    CAST(COUNT(*) FILTER (WHERE event_type NOT IN ('click','error','purchase','signup','view')) AS BIGINT) AS v3
           |  FROM corrupted),
           |uniq AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_checked, CAST(SUM(cnt - 1) AS BIGINT) AS v
           |  FROM (SELECT COUNT(*) AS cnt FROM corrupted GROUP BY event_id)),
           |ref AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM corrupted) AS n_checked,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM corrupted e
           |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS v)
           |SELECT * FROM (
           |  SELECT 'f1_user_in_customer' AS "constraint", n_checked, v AS n_violations FROM ref
           |  UNION ALL SELECT 'r1_user_not_null', n_checked, v1 FROM rows_
           |  UNION ALL SELECT 'r2_value_in_range', n_checked, v2 FROM rows_
           |  UNION ALL SELECT 'r3_type_known', n_checked, v3 FROM rows_
           |  UNION ALL SELECT 'u1_event_id_unique', n_checked, v FROM uniq)
           |ORDER BY "constraint"""".stripMargin))

  // q113_equidepth — equi-DEPTH histogram (q41 is equi-width): decile
  // buckets by RANK (ntile over a total order), not by interpolated
  // cutpoints — the first attempt assigned buckets via `value >
  // percentile-cut` and an ULP of cross-engine interpolation
  // difference at sf0.1 moved boundary rows between buckets, turning
  // a float rounding hazard into integer count mismatches. ntile's
  // semantics are pure integers (first n mod k buckets take the extra
  // row) and the (value, event_id) order is total, so both engines
  // agree exactly. Scale note: ntile is a per-group sort — at 100 TB
  // compute approximate cutpoints (GK/approx_percentile) and assign
  // scan-locally instead; the report shape is unchanged.

  private val q113 = Q(
    "q113_equidepth",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir)
      e.withColumn("bucket", ntile(10).over(
          Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo"), max(col("value")).as("hi"))
        .orderBy(col("event_type"), col("bucket"))
    },
    Some("""SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n,
           |  MIN(value) AS lo, MAX(value) AS hi
           |FROM (SELECT event_type, value,
           |    ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bucket
           |  FROM events)
           |GROUP BY event_type, bucket
           |ORDER BY event_type, bucket""".stripMargin))

  // q116_copy_verify — anti-entropy check after a layout operation:
  // rewrite events Z-ordered, then prove the copy carries identical
  // CONTENT via (row count, order-independent XOR of the portable
  // row hash) on both sides — the cheap "did the compaction /
  // re-cluster / migration lose or duplicate rows" gate every lake
  // maintenance job should end with. XOR, not SUM: order-independent
  // AND overflow-free at any row count (a modular sum wraps
  // differently per engine). Collision class to know about: XOR is
  // blind to EVEN-MULTIPLICITY divergence — a copy that swaps two
  // duplicates of row A for two duplicates of row B keeps both count
  // and XOR unchanged. Acceptable for an anti-entropy heuristic over
  // near-unique lake rows (event_id is the primary key, so honest
  // copies carry multiplicity 1); a stronger gate would additionally
  // compare an order-independent aggregate of a second independent
  // hash. value rides as DECIMAL(18,2) in the
  // hashed rendering (exact, engine-identical); ts is excluded BY
  // CONTRACT (timestamp string renderings differ across engines —
  // the row identity columns are the content key).

  private val q116 = Q(
    "q116_copy_verify",
    (s, dir) => {
      val e = Tables.events(s, dir).drop("ts_ns")
      val path = s"/tmp/graft_zcopy/${new java.io.File(dir).getName}"
      graft.sources.Lake.writeZOrdered(e, path,
        col("user_id"), floor(col("value")).cast("long"), 14, 16)
      val copy = s.read.parquet(path)
      def sig(df: org.apache.spark.sql.DataFrame, pre: String) = {
        val rowStr = concat_ws("|", col("event_id"), col("user_id"),
          col("event_type"), col("value").cast("decimal(18,2)"))
        df.select(graft.operators.Dedup.polyHash(df, rowStr,
            graft.operators.Dedup.PolyB1, graft.operators.Dedup.PolyP1).as("h"))
          .agg(count(lit(1)).as(s"n_$pre"), expr("bit_xor(h)").as(s"xor_$pre"))
      }
      sig(e, "src").crossJoin(sig(copy, "copy"))
        .select(col("n_src"), col("xor_src"), col("n_copy"), col("xor_copy"),
          (col("n_src") === col("n_copy") && col("xor_src") === col("xor_copy"))
            .as("content_match"))
    },
    Some(s"""WITH sig AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            |    bit_xor(${polySqlX("(concat_ws('|', event_id, user_id, event_type, CAST(value AS DECIMAL(18,2))))")}) AS x
            |  FROM events)
            |SELECT a.n AS n_src, a.x AS xor_src, b.n AS n_copy, b.x AS xor_copy,
            |  (a.n = b.n AND a.x = b.x) AS content_match
            |FROM sig a CROSS JOIN sig b""".stripMargin))

  private def polySqlX(c: String): String =
    s"list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(generate_series(1, length($c)), " +
      s"i -> CAST(unicode($c[i:i]) AS BIGINT))), (acc, c) -> (acc * ${graft.operators.Dedup.PolyB1} + c) % ${graft.operators.Dedup.PolyP1})"

  val all: Seq[Q] = Seq(q25, q26, q31, q32, q33, q34, q35, q36, q37, q38, q39,
    q40, q41, q42, q43, q45, q52, q61, q62, q63, q64, q72, q73, q103, q109, q112, q113, q116)
}
