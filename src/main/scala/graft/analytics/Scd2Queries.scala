package graft.analytics

import graft.operators.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 warehouse family (build/incremental/lookup/audit) split out of RelationalQueries in round 10.
  *
  * Oracle-parity rules are RelationalQueries' (the driver hash-compares
  * values and schemas against DuckDB running `oracle` on the same
  * parquet); `all` concatenates into RelationalQueries.all, so the
  * registry surface and count pin are unchanged by the split. */
object Scd2Queries {
  import RelationalQueries.{Q, dsum, t}

  /** The SCD2 island pass shared by the from-scratch build and the
    * incremental merge: collapse an order set into per-customer runs
    * (version 1..n dense, status, valid_from, n_orders). One
    * customer-keyed exchange carries both windows and the island
    * group-by. */
  private[analytics] def scd2Runs(o: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_orderstatus"))
      .withColumn("chg",
        when(lag(col("o_orderstatus"), 1).over(wSeq).isNull ||
          lag(col("o_orderstatus"), 1).over(wSeq) =!= col("o_orderstatus"),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("version", sum(col("chg")).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("o_custkey"), col("version"))
      .agg(max(col("o_orderstatus")).as("status"),
        min(col("o_orderdate")).as("valid_from"),
        count(lit(1)).as("n_orders"))
  }

  /** Close intervals and mark the current row — the final projection
    * both SCD2 queries share. */
  private[analytics] def scd2Close(islands: DataFrame): DataFrame = {
    val wVer = Window.partitionBy(col("o_custkey")).orderBy(col("version"))
    islands
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wVer))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("o_custkey"), col("version"), col("status"),
        col("valid_from"), col("valid_to"), col("is_current"),
        col("n_orders"))
      .orderBy(col("o_custkey"), col("version"))
  }

  val qScd2Orders = Q(
    "q_scd2_orders",
    (s, dir) =>
      scd2Close(scd2Runs(t(s, dir, "orders").filter(col("o_custkey") < 300))),
    Some("""
      WITH flagged AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
               CASE WHEN LAG(o_orderstatus, 1) OVER w IS NULL
                      OR LAG(o_orderstatus, 1) OVER w <> o_orderstatus
                    THEN 1 ELSE 0 END AS chg
        FROM orders WHERE o_custkey < 300
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)),
      versioned AS (
        SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS version
        FROM flagged),
      islands AS (
        SELECT o_custkey, version, MAX(o_orderstatus) AS status,
               MIN(o_orderdate) AS valid_from, COUNT(*) AS n_orders
        FROM versioned GROUP BY o_custkey, version)
      SELECT o_custkey, version, status, valid_from,
             LEAD(valid_from, 1) OVER (PARTITION BY o_custkey
               ORDER BY version) AS valid_to,
             LEAD(valid_from, 1) OVER (PARTITION BY o_custkey
               ORDER BY version) IS NULL AS is_current,
             n_orders
      FROM islands ORDER BY o_custkey, version"""))

  /** Incremental SCD2 maintenance (incremental view maintenance for
    * the dimension build): merge a DELTA batch of orders (arriving
    * strictly after the cutoff) into the already-built dimension
    * WITHOUT re-deriving closed history from the base fact table.
    * The merge re-reads only (a) the existing interval table — small,
    * it's the dimension — and (b) the delta: the open interval either
    * absorbs the delta's first run (same status → n_orders adds,
    * valid_from keeps) or closes against it, and later delta runs
    * append with shifted versions; untouched customers pass through.
    *
    * The gate is the strongest one available: the oracle is the FULL
    * RECOMPUTE over base+delta (q_scd2_orders' SQL verbatim), so the
    * hash-match proves incremental ≡ from-scratch on every row. The
    * delta-after-base date split means the (o_orderdate, o_orderkey)
    * total order never interleaves across the boundary — the property
    * that makes run-merge arithmetic exact.
    *
    * Scale shape: the base fact scan happens once to stand up the
    * dimension (self-contained like the stored-index queries); the
    * merge itself joins interval-table-sized frames on o_custkey and
    * shuffles the DELTA only — at 100 TB the daily cost is
    * |delta| + |dimension|, never |history|. */
  val qScd2Incremental = Q(
    "q_scd2_incremental",
    (s, dir) => {
      val cutoff = lit("2000-01-01").cast("timestamp")
      val o = t(s, dir, "orders").filter(col("o_custkey") < 300)
      val runsB = scd2Runs(o.filter(col("o_orderdate") < cutoff))
      val runsD = scd2Runs(o.filter(col("o_orderdate") >= cutoff))
        .withColumnRenamed("version", "dver")
      val wMax = Window.partitionBy(col("o_custkey"))
      val basePlus = runsB.withColumn("maxv", max(col("version")).over(wMax))
      val closed = basePlus.filter(col("version") < col("maxv"))
        .select(col("o_custkey"), col("version"), col("status"),
          col("valid_from"), col("n_orders"))
      val open = basePlus.filter(col("version") === col("maxv"))
        .select(col("o_custkey"), col("version"), col("status"),
          col("valid_from"), col("n_orders"))
      val dfirst = runsD.filter(col("dver") === 1)
        .select(col("o_custkey"), col("status").as("d1status"),
          col("n_orders").as("d1n"))
      // per-customer merge flag: does the delta's first run continue
      // the open interval's status?
      val flags = dfirst.join(open.select(col("o_custkey"),
          col("version").as("bver"), col("status").as("bstatus")),
          Seq("o_custkey"), "left")
        .select(col("o_custkey"), col("bver"),
          coalesce(col("d1status") === col("bstatus"), lit(false))
            .as("fm"), col("d1n"))
      val openAdj = open.join(flags.select(col("o_custkey"), col("fm"),
          col("d1n")), Seq("o_custkey"), "left")
        .select(col("o_custkey"), col("version"), col("status"),
          col("valid_from"),
          when(coalesce(col("fm"), lit(false)),
            col("n_orders") + col("d1n")).otherwise(col("n_orders"))
            .as("n_orders"))
      val appended = runsD.join(flags.select(col("o_custkey"), col("bver"),
          col("fm")), Seq("o_custkey"))
        .filter(!(col("dver") === 1 && col("fm")))
        .select(col("o_custkey"),
          (coalesce(col("bver"), lit(0L)) + col("dver") -
            when(col("fm"), 1L).otherwise(0L)).as("version"),
          col("status"), col("valid_from"), col("n_orders"))
      scd2Close(closed.unionByName(openAdj).unionByName(appended))
    },
    // the full-recompute oracle: incremental must equal from-scratch
    qScd2Orders.oracle)

  /** Point-in-time (temporal) dimension lookup — the query every SCD2
    * dimension exists to serve: each fact row joins the dimension
    * VERSION that was valid at the fact's own timestamp (here: which
    * status-era the customer was in when each line item shipped —
    * ship dates trail order dates by days to months, so facts land in
    * later versions than the orders that created them). The engine
    * implements it with the [[AsOfJoin]] operator against the
    * dimension's valid_from — latest version at-or-before the fact
    * timestamp — which on a CONTIGUOUS interval table is exactly the
    * BETWEEN semantics the oracle states; zero-width versions (two
    * status flips on one date) are filtered first, since no
    * point-in-time probe can land inside them (the oracle's
    * `sd < valid_to` excludes them identically, and dropping them
    * makes the surviving valid_froms strictly increasing per customer
    * — the tie-free ordering the as-of window needs). One union +
    * one customer-keyed window — a single shuffle, no interval
    * pair-join anywhere. */
  val qScd2Lookup = Q(
    "q_scd2_lookup",
    (s, dir) => {
      val dim = scd2Close(scd2Runs(
          t(s, dir, "orders").filter(col("o_custkey") < 300)))
        .filter(col("valid_to").isNull ||
          col("valid_from") < col("valid_to"))
        .select(col("o_custkey"), col("version"), col("valid_from"))
      val facts = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_custkey") < 300),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_shipdate"),
          col("l_extendedprice"))
      AsOfJoin.asof(facts, dim, "o_custkey", "l_shipdate", "valid_from",
          Seq("version"))
        .groupBy(col("o_custkey"), col("version"))
        .agg(count(lit(1)).as("n_facts"),
          dsum(col("l_extendedprice")).as("rev"))
        .orderBy(col("o_custkey"), col("version"))
    },
    Some("""
      WITH flagged AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
               CASE WHEN LAG(o_orderstatus, 1) OVER w IS NULL
                      OR LAG(o_orderstatus, 1) OVER w <> o_orderstatus
                    THEN 1 ELSE 0 END AS chg
        FROM orders WHERE o_custkey < 300
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)),
      versioned AS (
        SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS version
        FROM flagged),
      islands AS (
        SELECT o_custkey, version, MIN(o_orderdate) AS valid_from
        FROM versioned GROUP BY o_custkey, version),
      dim AS (
        SELECT o_custkey, version, valid_from,
               LEAD(valid_from, 1) OVER (PARTITION BY o_custkey
                 ORDER BY version) AS valid_to
        FROM islands),
      facts AS (
        SELECT o.o_custkey, l.l_shipdate AS sd,
               l.l_extendedprice AS px
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey < 300),
      hit AS (
        SELECT f.o_custkey, d.version, f.px
        FROM facts f JOIN dim d ON d.o_custkey = f.o_custkey
          AND f.sd >= d.valid_from
          AND (d.valid_to IS NULL OR f.sd < d.valid_to))
      SELECT o_custkey, version, COUNT(*) AS n_facts,
             CAST(SUM(CAST(px AS DECIMAL(25,4))) AS DOUBLE) AS rev
      FROM hit GROUP BY o_custkey, version
      ORDER BY o_custkey, version"""))

  /** SCD2 dimension-invariant audit — the acceptance test a warehouse
    * runs on ANY delivered interval table (including the one this
    * engine builds): per customer-keyed dimension, count interval
    * rows, zero-width versions, GAPS (valid_to < next valid_from),
    * OVERLAPS (valid_to > next valid_from), open intervals, and
    * whether every key holds exactly one open interval. Run here on
    * [[qScd2Orders]]'s own output, the audit doubles as a machine-
    * checked proof of that builder's contract: 0 gaps, 0 overlaps,
    * one open interval per customer — but the OPERATOR is generic
    * over any (key, valid_from, valid_to) table.
    *
    * One key-partitioned lead() window re-derives adjacency, all
    * counters are exact integers, and the single-row summary is a
    * bounded aggregate. */
  val qScd2Audit = Q(
    "q_scd2_audit",
    (s, dir) => {
      val dim = scd2Close(scd2Runs(
        t(s, dir, "orders").filter(col("o_custkey") < 300)))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("version"))
      dim
        .withColumn("next_from", lead(col("valid_from"), 1).over(w))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_intervals"),
          sum(when(col("valid_to").isNotNull &&
            col("valid_from") === col("valid_to"), 1L).otherwise(0L))
            .as("n_zero_width"),
          sum(when(col("next_from").isNotNull &&
            col("valid_to") < col("next_from"), 1L).otherwise(0L))
            .as("n_gaps"),
          sum(when(col("next_from").isNotNull &&
            col("valid_to") > col("next_from"), 1L).otherwise(0L))
            .as("n_overlaps"),
          sum(when(col("valid_to").isNull, 1L).otherwise(0L))
            .as("n_open"))
        .select(col("n_customers"), col("n_intervals"),
          col("n_zero_width"), col("n_gaps"), col("n_overlaps"),
          col("n_open"),
          (col("n_open") === col("n_customers")).as("one_open_per_key"))
    },
    Some("""
      WITH flagged AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
               CASE WHEN LAG(o_orderstatus, 1) OVER w IS NULL
                      OR LAG(o_orderstatus, 1) OVER w <> o_orderstatus
                    THEN 1 ELSE 0 END AS chg
        FROM orders WHERE o_custkey < 300
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)),
      versioned AS (
        SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS version
        FROM flagged),
      islands AS (
        SELECT o_custkey, version, MIN(o_orderdate) AS valid_from
        FROM versioned GROUP BY o_custkey, version),
      dim AS (
        SELECT o_custkey, version, valid_from,
               LEAD(valid_from, 1) OVER (PARTITION BY o_custkey
                 ORDER BY version) AS valid_to
        FROM islands),
      adj AS (
        SELECT o_custkey, valid_from, valid_to,
               LEAD(valid_from, 1) OVER (PARTITION BY o_custkey
                 ORDER BY version) AS next_from
        FROM dim)
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
             COUNT(*) AS n_intervals,
             CAST(SUM(CASE WHEN valid_to IS NOT NULL
                 AND valid_from = valid_to THEN 1 ELSE 0 END)
               AS BIGINT) AS n_zero_width,
             CAST(SUM(CASE WHEN next_from IS NOT NULL
                 AND valid_to < next_from THEN 1 ELSE 0 END)
               AS BIGINT) AS n_gaps,
             CAST(SUM(CASE WHEN next_from IS NOT NULL
                 AND valid_to > next_from THEN 1 ELSE 0 END)
               AS BIGINT) AS n_overlaps,
             CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_open,
             CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) = CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
               AS one_open_per_key
      FROM adj"""))


  /** Registry consumed by RelationalQueries.all. */
  val all: Seq[Q] = Seq(qScd2Orders,
    qScd2Incremental,
    qScd2Lookup,
    qScd2Audit)
}
