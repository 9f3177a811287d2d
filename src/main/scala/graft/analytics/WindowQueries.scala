package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Window-function and sessionization family split out of RelationalQueries in round 10.
  *
  * Oracle-parity rules are RelationalQueries' (the driver hash-compares
  * values and schemas against DuckDB running `oracle` on the same
  * parquet); `all` concatenates into RelationalQueries.all, so the
  * registry surface and count pin are unchanged by the split. */
object WindowQueries {
  import RelationalQueries.{Q, dsum, t}

  /** Analytic window: per-user running sum (exact decimal) + lag. */
  val qWindowRunning = Q(
    "q_window_running",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(
          col("user_id"), col("event_id"), col("ts"), col("value"),
          sum(col("value").cast(DecimalType(25, 6))).over(frame)
            .cast("double").as("running_value"),
          lag(col("value"), 1).over(w).as("prev_value"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id, ts, value,
             CAST(SUM(CAST(value AS DECIMAL(25,6)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS running_value,
             LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_value
      FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
            FROM events) e
      ORDER BY user_id, ts, event_id"""))

  /** The full ranking-function family in one pass (unique tie-break →
    * deterministic; percent_rank/cume_dist are exact rationals). */
  val qWindowRanks = Q(
    "q_window_ranks",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cdist"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_mktsegment,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk,
             PERCENT_RANK() OVER w AS prnk,
             CUME_DIST() OVER w AS cdist,
             NTILE(4) OVER w AS quartile
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey)
      ORDER BY c_custkey"""))

  /** Tumbling event-time window (Spark `window()`; DuckDB date_trunc
    * is the equivalent hour bucketing). */
  val qWindowHourly = Q(
    "q_window_hourly",
    (s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
        .select(col("w.start").as("bucket"), col("n"), col("sum_value"))
        .orderBy(col("bucket"))
    },
    Some("""
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY bucket"""))

  /** HOPPING (sliding) time windows — Spark's native
    * `window(ts, "1 hour", "15 minutes")`: every event lands in the 4
    * overlapping hour-wide windows that cover it, the smoothing
    * tumbling buckets can't give (a burst straddling a tumbling
    * boundary splits; a hop sees it whole). Gated against the manual
    * replay: each event explodes into its 4 covering window starts
    * (bucket arithmetic on epoch micros — exact integers), so the
    * hash-match proves the native operator's window assignment
    * bit-for-bit. Same decimal-exact value sums as [[qWindowHourly]].
    *
    * Scale shape: the native operator plans the 4× explode inside the
    * aggregate's partial side — one exchange on (window, nothing
    * else), fan-out bounded by window/slide = 4. */
  val qWindowSliding = Q(
    "q_window_sliding",
    (s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
        .select(col("w.start").as("bucket"), col("n"), col("sum_value"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH e AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        FROM events),
      hops AS (
        SELECT make_timestamp((us // 900000000) * 900000000
                              - k * 900000000) AS bucket,
               value
        FROM e CROSS JOIN generate_series(0, 3) t(k))
      SELECT bucket, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
               AS sum_value
      FROM hops GROUP BY bucket ORDER BY bucket"""))

  /** Navigation window functions — lead, first/last value, nth value —
    * over per-user event streams, with explicit ROWS frames (the
    * default RANGE frame makes last_value the current row, a classic
    * correctness trap both engines share; stating the frame makes the
    * intent portable). Unique (ts, event_id) tie-break keeps every
    * navigation deterministic. One user-keyed window partition — the
    * same single-exchange shape as the sibling window queries. */
  val qWindowNavigation = Q(
    "q_window_navigation",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val upToHere = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fromHere = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      ev.select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"),
          first(col("event_type")).over(upToHere).as("first_type"),
          last(col("event_type")).over(fromHere).as("last_type"),
          nth_value(col("event_type"), 2).over(upToHere).as("second_type"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type, 1) OVER w AS next_type,
             FIRST_VALUE(event_type) OVER (w ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS first_type,
             LAST_VALUE(event_type) OVER (w ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING) AS last_type,
             NTH_VALUE(event_type, 2) OVER (w ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS second_type
      FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_type
            FROM events) e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, ts, event_id"""))

  /** Distribution window functions — ntile / percent_rank / cume_dist
    * — the statistical third of the window family next to ranking and
    * navigation: quartile bucketing and within-group percentile
    * position over order values per priority class (what "price
    * percentile within its priority tier" reports). ntile assigns by
    * ROW POSITION, so a non-unique ordering would be engine-dependent
    * — the (o_totalprice, o_orderkey) composite makes every position
    * (and thus every bucket edge) deterministic in both engines.
    * percent_rank and cume_dist are exact integer ratios divided once
    * in double; rounded to 6dp per the parity rule.
    *
    * Scale shape: with a UNIQUE ordering all three functions are
    * closed forms of (row position rn, group size n) — rank = rn, so
    * percent_rank = (rn−1)/(n−1), cume_dist = rn/n, and ntile(k) is
    * the standard larger-buckets-first integer formula — so the
    * engine computes rn via [[
    * graft.operators.OrderStatistics.groupRowRanks]] (the
    * range-partitioned distributed rank spread over ALL partitions)
    * plus a 5-row group-count broadcast, never a priority-partitioned
    * window over raw orders (5 coarse partitions would funnel the
    * table into 5 reducers at 100× scale — the round-9 audit's weak
    * class). The oracle keeps the NATIVE window functions, so the
    * gate certifies closed-form ≡ native on every row. The
    * cents-scaled sort key is order-faithful: prices carry exactly
    * two decimals by construction. */
  val qWindowDistribution = Q(
    "q_window_distribution",
    (s, dir) => {
      val rn = graft.operators.OrderStatistics.groupRowRanks(
          t(s, dir, "orders").select(col("o_orderpriority").as("g"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("v"),
            col("o_orderkey").as("p")),
          minRank = false)
      val n = t(s, dir, "orders").groupBy(col("o_orderpriority").as("g"))
        .agg(count(lit(1)).as("n"))
      rn.join(broadcast(n), Seq("g"))
        .select(col("p").cast("long").as("o_orderkey"),
          col("g").as("o_orderpriority"),
          (col("v").cast("double") / 100.0).as("o_totalprice"),
          expr("""CASE
              WHEN rk <= ((n DIV 4) + 1) * (n % 4)
                THEN (rk - 1) DIV ((n DIV 4) + 1) + 1
              ELSE n % 4
                + (rk - ((n DIV 4) + 1) * (n % 4) - 1) DIV (n DIV 4)
                + 1 END""").as("quartile"),
          round(when(col("n") === 1, lit(0.0))
            .otherwise((col("rk") - 1).cast("double") /
              (col("n") - 1).cast("double")), 6).as("pct_rank"),
          round(col("rk").cast("double") / col("n").cast("double"), 6)
            .as("cum_dist"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             NTILE(4) OVER w AS quartile,
             ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
             ROUND(CUME_DIST() OVER w, 6) AS cum_dist
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_orderkey"""))

  /** Batch sessionization: gap-based sessions (30-minute inactivity
    * timeout) via the classic two-window pattern — a lag() flags
    * session starts, a running sum numbers them, a groupBy rolls each
    * session up. The batch twin of the streaming sessionizers
    * (`dns/Sessions.scala`), and the one that CAN hash-match an
    * oracle (streaming state ops cannot).
    *
    * Scale shape: ONE shuffle. Both windows and the final aggregate
    * key on user_id (the aggregate on (user_id, session_idx), whose
    * clustering the user_id hash partitioning already satisfies), so
    * Catalyst plans a single hash exchange for the whole chain —
    * PlanAuditSpec pins that. Gap compares use exact integer
    * microseconds (`unix_micros`/`epoch_us`) — the events timestamps
    * carry sub-second precision, and float epoch seconds would
    * disagree across engines at session boundaries; the value rollup
    * accumulates in DECIMAL (parity rule: decimal sums). */
  val qSessionizeBatch = Q(
    "q_sessionize_batch",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"),
          unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev
        .withColumn("new_s",
          when(col("us") - lag(col("us"), 1).over(w) <= 1800L * 1000000L,
            lit(0L)).otherwise(lit(1L)))
        .withColumn("session_idx", sum(col("new_s")).over(frame))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          sum(col("value").cast(DecimalType(25, 6))).cast("double")
            .as("session_value"))
        .orderBy(col("user_id"), col("session_idx"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      f AS (
        SELECT *, CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
                                               ORDER BY us, event_id)
                            <= 1800 * 1000000
                       THEN 0 ELSE 1 END AS new_s
        FROM e),
      s AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS session_idx
        FROM f)
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             COUNT(*) AS n_events,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
               AS session_value
      FROM s GROUP BY user_id, session_idx
      ORDER BY user_id, session_idx"""))

  /** The built-in `session_window` operator in BATCH mode, gated by
    * the SAME oracle as the hand-rolled lag/cumsum sessionizer
    * (q_sessionize_batch): the hash-match is a three-way equivalence
    * proof — Spark's native session operator ≡ the gaps-and-islands
    * window formulation ≡ DuckDB's SQL replay. The session_window
    * struct serves only as the grouping key; start/end/value
    * re-aggregate as min/max/decimal-sum inside each session, and
    * session_idx re-ranks windows per user by start time (per-user
    * sessions are time-disjoint, so the rank IS the islands ordinal).
    * Boundary tie measured and pinned (AnalyticsSpec "session_window
    * exact-gap boundary"): an event EXACTLY gap-distant from its
    * predecessor MERGES in both formulations — session_window's end
    * is inclusive (next.start <= current.end merges), same as the lag
    * rule's <=. The equivalence is semantic, not fixture-luck.
    *
    * Scale shape: session_window plans ONE exchange on user_id with
    * the session merge inside the aggregate (no second window pass) —
    * the same single-shuffle shape the hand-rolled variant is pinned
    * to. */
  val qSessionizeNative = Q(
    "q_sessionize_native",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("value"))
      val sess = ev
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          sum(col("value").cast(DecimalType(25, 6))).cast("double")
            .as("session_value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("session_start"))
      sess
        .withColumn("session_idx", row_number().over(w).cast("long"))
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("session_start"), col("session_end"), col("session_value"))
        .orderBy(col("user_id"), col("session_idx"))
    },
    // the q_sessionize_batch oracle verbatim — same semantics, so the
    // native operator must reproduce the islands formulation exactly
    qSessionizeBatch.oracle)

  /** Rolling 7-day MEDIAN of daily totals — the windowed ORDER
    * STATISTIC the window family lacked: running/sliding means
    * ([[qWindowRunning]], [[qWindowSliding]]) smear outliers into the
    * trend, while the rolling median is the robust centerline ops
    * dashboards actually want. Exactness: daily totals are centi-unit
    * BIGINTs DOUBLED (the [[qStatsLevene]] ×2 trick), so the
    * interpolated even-count median is an exact even integer in both
    * engines — `percentile(…, 0.5)` here, `quantile_cont` there —
    * gated as the integer `med2` with the readable double alongside.
    * The RANGE frame is calendar-aware: 6 PRECEDING on the epoch-day
    * key covers calendar gaps, not 6 physical rows ([[
    * qWindowRangeFrame]] discipline).
    *
    * Scale shape: the unbounded scan ends at the (type, day) rollup —
    * map-side combined, bounded by types × horizon — and the window
    * runs on that bounded spine, partitioned by type. */
  val qWindowRollingMedian = Q(
    "q_window_rolling_median",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"),
          to_date(col("ts")).as("d"),
          expr("cast(round(value * 100) as bigint)").as("v"))
        .groupBy(col("event_type"), col("d"))
        .agg((sum(col("v")) * 2L).as("tot2"))
        .withColumn("day_idx",
          datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("day_idx")).rangeBetween(-6, 0)
      daily
        .withColumn("n_in_win", count(lit(1)).over(w))
        .withColumn("med2",
          expr("percentile(tot2, 0.5D)").over(w).cast("long"))
        .select(col("event_type"), col("d"), col("tot2"),
          col("n_in_win"), col("med2"),
          round(col("med2").cast("double") / 200.0, 3).as("med_val"))
        .orderBy(col("event_type"), col("d"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 * 2 AS tot2,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS day_idx
        FROM events GROUP BY event_type, CAST(ts AS DATE))
      SELECT event_type, d, tot2,
             COUNT(*) OVER w AS n_in_win,
             CAST(quantile_cont(tot2, 0.5) OVER w AS BIGINT) AS med2,
             ROUND(CAST(CAST(quantile_cont(tot2, 0.5) OVER w AS BIGINT)
               AS DOUBLE) / 200.0, 3) AS med_val
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY event_type, d"""))

  /** Interval UNION length (coverage) per customer — merge each
    * customer's overlapping order-fulfillment windows into maximal
    * disjoint islands and report how many islands, how many days the
    * union covers, and the longest island. The measure-of-union
    * primitive behind SLA coverage ("how many days was at least one
    * order in flight"), calendar billing (bill covered time once, not
    * per overlapping contract), and monitoring-window consolidation —
    * the third member of the interval family: [[qJoinInterval]] PAIRS
    * overlapping intervals, [[qTsCompleteness]] measures holes in a
    * POINT series, this measures the covered length of an INTERVAL
    * set. Fulfillment window = orderdate + 7 days per priority class
    * digit ('1-URGENT' ships in 7, '5-LOW' in 35) — both engines
    * derive it from the leading priority digit.
    *
    * The sweep is the running-max form of gaps-and-islands: with
    * intervals sorted by start within a customer, an interval starts a
    * NEW island iff its start exceeds the max end seen so far
    * (touching intervals merge — coverage has no zero-width gaps);
    * the island id is the running flag sum, and min(start)/max(end)
    * per island are the merged bounds. Everything is exact integer
    * epoch-day arithmetic — no rounding seam.
    *
    * Scale shape: ONE hash exchange on o_custkey carries both windows
    * (the lagged running max and the island-flag running sum share
    * partitioning and ordering, so Catalyst fuses them into one Window
    * operator after one sort) and BOTH group-bys ((custkey, island)
    * then custkey — each clustered by the o_custkey prefix, so neither
    * re-shuffles). Per-customer state is one running max, never the
    * interval list; a hot customer costs a sort, not memory. */
  val qWindowIntervalUnion = Q(
    "q_window_interval_union",
    (s, dir) => {
      val iv = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("st"),
          (datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long") +
            substring(col("o_orderpriority"), 1, 1).cast("long") * 7)
            .as("en"))
      val wOrd = Window.partitionBy(col("o_custkey"))
        .orderBy(col("st"), col("en"), col("o_orderkey"))
      val prevMax = max(col("en"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
      iv
        .withColumn("isl0",
          when(prevMax.isNull || col("st") > prevMax, lit(1L))
            .otherwise(lit(0L)))
        .withColumn("island", sum(col("isl0")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("o_custkey"), col("island"))
        .agg(min(col("st")).as("i_start"), max(col("en")).as("i_end"),
          count(lit(1)).as("n_orders"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("i_end") - col("i_start")).as("covered_days"),
          max(col("i_end") - col("i_start")).as("longest_days"),
          sum(col("n_orders")).as("n_orders"))
        .orderBy(col("o_custkey"))
    },
    Some("""
      WITH iv AS (
        SELECT o_custkey, o_orderkey,
               DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate) AS st,
               DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
                 + CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) * 7 AS en
        FROM orders),
      flagged AS (
        SELECT o_custkey, o_orderkey, st, en,
               CASE WHEN MAX(en) OVER w IS NULL OR st > MAX(en) OVER w
                    THEN 1 ELSE 0 END AS isl0
        FROM iv
        WINDOW w AS (PARTITION BY o_custkey ORDER BY st, en, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      numbered AS (
        SELECT o_custkey, st, en,
               CAST(SUM(isl0) OVER (PARTITION BY o_custkey
                 ORDER BY st, en, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS island
        FROM flagged),
      merged AS (
        SELECT o_custkey, island, MIN(st) AS i_start, MAX(en) AS i_end,
               COUNT(*) AS n_orders
        FROM numbered GROUP BY o_custkey, island)
      SELECT o_custkey, COUNT(*) AS n_islands,
             CAST(SUM(i_end - i_start) AS BIGINT) AS covered_days,
             MAX(i_end - i_start) AS longest_days,
             CAST(SUM(n_orders) AS BIGINT) AS n_orders
      FROM merged GROUP BY o_custkey ORDER BY o_custkey"""))

  /** Input/output rows for the interval pack's typed scan. */
  private[analytics] case class PackIn(
      o_custkey: Long, o_orderkey: Long, st: Long, en: Long)
  private[analytics] case class PackKept(
      o_custkey: Long, pack_rank: Long, o_orderkey: Long,
      st: Long, en: Long)

  /** Greedy non-overlapping interval selection (activity selection /
    * interval packing) — per customer, the MAXIMUM set of mutually
    * disjoint fulfillment windows, built by the earliest-end greedy
    * rule (provably optimal for cardinality): keep the interval with
    * the smallest end, then the next whose start ≥ the kept end, and
    * so on. Where [[qWindowIntervalUnion]] MERGES overlaps to measure
    * coverage, this SELECTS a disjoint subset — slot scheduling,
    * non-overlapping-contract billing, audit sampling without
    * double-covered periods. The kept chain is a recurrence on the
    * operator's own output (kept(i+1) depends on kept(i)'s END, which
    * itself depended on the selection so far) — the
    * [[EventQueries.qEventsThrottle]] class, NOT a window: the engine
    * runs the secondary-sort pattern (custkey exchange → sort by
    * (cust, en, st, orderkey) → ONE streaming pass with O(1) state),
    * and the oracle is a recursive CTE with per-step LATERAL argmin,
    * so the gate certifies greedy scan ≡ declarative recurrence.
    * Interval convention [st, en): touching intervals (st = kept en)
    * are compatible. */
  val qWindowIntervalPack = Q(
    "q_window_interval_pack",
    (s, dir) => {
      import s.implicits._
      val kept = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("st"),
          (datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long") +
            substring(col("o_orderpriority"), 1, 1).cast("long") * 7)
            .as("en"))
        .repartition(col("o_custkey"))
        .sortWithinPartitions(col("o_custkey"), col("en"), col("st"),
          col("o_orderkey"))
        .as[PackIn]
        .mapPartitions { it =>
          var cur = Long.MinValue
          var lastEnd = Long.MinValue
          var rank = 0L
          var has = false
          it.flatMap { r =>
            if (!has || r.o_custkey != cur) {
              has = true; cur = r.o_custkey; lastEnd = r.en; rank = 1L
              Iterator.single(PackKept(r.o_custkey, 1L, r.o_orderkey,
                r.st, r.en))
            } else if (r.st >= lastEnd) {
              lastEnd = r.en; rank += 1L
              Iterator.single(PackKept(r.o_custkey, rank, r.o_orderkey,
                r.st, r.en))
            } else Iterator.empty
          }
        }
        .toDF()
      kept.orderBy(col("o_custkey"), col("pack_rank"))
    },
    Some("""
      WITH RECURSIVE iv AS (
        SELECT o_custkey, o_orderkey,
               DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate) AS st,
               DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
                 + CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) * 7 AS en,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                 ORDER BY en, st, o_orderkey) AS rn
        FROM orders),
      kept AS (
        SELECT o_custkey, 1 AS pack_rank, o_orderkey, st, en
        FROM iv WHERE rn = 1
        UNION ALL
        SELECT n.o_custkey, k.pack_rank + 1, n.o_orderkey, n.st, n.en
        FROM kept k, LATERAL (
          SELECT i.o_custkey, i.o_orderkey, i.st, i.en
          FROM iv i
          WHERE i.o_custkey = k.o_custkey AND i.st >= k.en
          ORDER BY i.en, i.st, i.o_orderkey LIMIT 1) n)
      SELECT o_custkey, CAST(pack_rank AS BIGINT) AS pack_rank,
             o_orderkey, st, en
      FROM kept
      ORDER BY o_custkey, pack_rank"""))

  /** Peak concurrency of validity intervals — where
    * [[qWindowIntervalUnion]] measures TOTAL covered time, this
    * measures PEAK LOAD: sweep each priority's fulfillment windows as
    * +1/−1 events in time order and take the running sum's maximum —
    * "how many orders were in flight at the worst moment", the
    * capacity-planning primitive (max concurrent sessions, license
    * peaks, staffing). Classic sweep-line as ONE window: a +1 at
    * each start, a −1 at each end (day resolution, [st, en) so an
    * end and a start on the same day DON'T overlap — ends sort
    * first), running sum, max + earliest argmax day. All integers.
    *
    * Scale shape: one explode (2 rows per interval), ONE
    * priority-keyed exchange carrying the running sum and the argmax
    * ranking. */
  val qWindowConcurrencyPeak = Q(
    "q_window_concurrency_peak",
    (s, dir) => {
      val iv = t(s, dir, "orders")
        .select(col("o_orderpriority").as("g"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("st"),
          (datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long") +
            substring(col("o_orderpriority"), 1, 1).cast("long") * 7)
            .as("en"))
      val ev = iv.select(col("g"), col("st").as("day"), lit(1L)
          .as("delta"))
        .unionByName(iv.select(col("g"), col("en").as("day"),
          lit(-1L).as("delta")))
        .groupBy(col("g"), col("day"))
        .agg(sum(col("delta")).as("d"))
      val wSeq = Window.partitionBy(col("g")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPick = Window.partitionBy(col("g"))
        .orderBy(col("conc").desc, col("day"))
      ev.withColumn("conc", sum(col("d")).over(wSeq))
        .withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .select(col("g").as("o_orderpriority"),
          col("day").as("peak_day"), col("conc").as("peak_concurrent"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      WITH iv AS (
        SELECT o_orderpriority AS g,
               DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
                 AS st,
               DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
                 + CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) * 7
                 AS en
        FROM orders),
      ev AS (
        SELECT g, day, CAST(SUM(delta) AS BIGINT) AS d FROM (
          SELECT g, st AS day, 1 AS delta FROM iv
          UNION ALL
          SELECT g, en AS day, -1 AS delta FROM iv) u
        GROUP BY g, day),
      walked AS (
        SELECT g, day,
               CAST(SUM(d) OVER (PARTITION BY g ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS conc
        FROM ev),
      ranked AS (
        SELECT g, day, conc,
               ROW_NUMBER() OVER (PARTITION BY g
                 ORDER BY conc DESC, day) AS rk
        FROM walked)
      SELECT g AS o_orderpriority, day AS peak_day,
             conc AS peak_concurrent
      FROM ranked WHERE rk = 1
      ORDER BY o_orderpriority"""))


  /** Registry consumed by RelationalQueries.all. */
  val all: Seq[Q] = Seq(qWindowRunning,
    qWindowRanks,
    qWindowHourly,
    qWindowSliding,
    qWindowNavigation,
    qWindowDistribution,
    qSessionizeBatch,
    qSessionizeNative,
    qWindowRollingMedian,
    qWindowIntervalUnion,
    qWindowIntervalPack,
    qWindowConcurrencyPeak)
}
