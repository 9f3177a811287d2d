package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistics family (parametric, rank/robust, calibration) split out of RelationalQueries in round 10 - same registry contract, one object per family seam.
  *
  * Oracle-parity rules are RelationalQueries' (the driver hash-compares
  * values and schemas against DuckDB running `oracle` on the same
  * parquet); `all` concatenates into RelationalQueries.all, so the
  * registry surface and count pin are unchanged by the split. */
object StatsQueries {
  import RelationalQueries.{Q, t}

  /** Column profiling / data-quality audit over `orders`: per-column
    * null count, approximate-free exact distinct count, and min/max
    * rendered to text — the long-format profile a warehouse emits
    * before accepting a feed.
    *
    * Scale shape: the multi-distinct aggregate computes all counts
    * plus every PRIMITIVE-buffered min/max in a single scan (Spark's
    * expand-based multi-distinct, 7× row expand, one parquet pass),
    * and the long format is a driver-free `stack` over the one-row
    * result. The four STRING min/max aggregates (status/priority)
    * deliberately live in a second tiny aggregate cross-joined back:
    * a string buffer anywhere in the multi-distinct aggregate forces
    * the whole 7×-expanded stream through interpreted SortAggregate
    * (no UnsafeRow mutable field for strings) — measured 15× slower
    * at sf0.1 (4.4 s → 0.28 s warm). Two scans of the footer-pruned
    * parquet beat one interpreted megapass at every scale. Min/max of
    * doubles/timestamps render through explicit DECIMAL/formatted
    * casts so both engines print identical text. */
  val qStatsProfile = Q(
    "q_stats_profile",
    (s, dir) => {
      val o = t(s, dir, "orders")
      def nNull(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
      val agg1 = o.agg(
        count(lit(1)).as("n_rows"),
        nNull("o_orderkey").as("nn_orderkey"),
        countDistinct(col("o_orderkey")).as("nd_orderkey"),
        min(col("o_orderkey")).cast("string").as("mn_orderkey"),
        max(col("o_orderkey")).cast("string").as("mx_orderkey"),
        nNull("o_custkey").as("nn_custkey"),
        countDistinct(col("o_custkey")).as("nd_custkey"),
        min(col("o_custkey")).cast("string").as("mn_custkey"),
        max(col("o_custkey")).cast("string").as("mx_custkey"),
        nNull("o_orderstatus").as("nn_status"),
        countDistinct(col("o_orderstatus")).as("nd_status"),
        nNull("o_totalprice").as("nn_price"),
        countDistinct(col("o_totalprice")).as("nd_price"),
        min(col("o_totalprice")).cast(DecimalType(18, 2)).cast("string")
          .as("mn_price"),
        max(col("o_totalprice")).cast(DecimalType(18, 2)).cast("string")
          .as("mx_price"),
        nNull("o_orderdate").as("nn_date"),
        countDistinct(col("o_orderdate")).as("nd_date"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss")
          .as("mn_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss")
          .as("mx_date"),
        nNull("o_orderpriority").as("nn_prio"),
        countDistinct(col("o_orderpriority")).as("nd_prio"))
      val agg2 = o.agg(
        min(col("o_orderstatus")).as("mn_status"),
        max(col("o_orderstatus")).as("mx_status"),
        min(col("o_orderpriority")).as("mn_prio"),
        max(col("o_orderpriority")).as("mx_prio"))
      val agg = agg1.crossJoin(agg2)
      agg.select(col("n_rows"), expr(
        """stack(6,
           'o_custkey', nn_custkey, nd_custkey, mn_custkey, mx_custkey,
           'o_orderdate', nn_date, nd_date, mn_date, mx_date,
           'o_orderkey', nn_orderkey, nd_orderkey, mn_orderkey, mx_orderkey,
           'o_orderpriority', nn_prio, nd_prio, mn_prio, mx_prio,
           'o_orderstatus', nn_status, nd_status, mn_status, mx_status,
           'o_totalprice', nn_price, nd_price, mn_price, mx_price)
           AS (col_name, n_null, n_distinct, min_val, max_val)"""))
        .select(col("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_val"), col("max_val"))
        .orderBy(col("col_name"))
    },
    Some("""
      WITH a AS (
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_orderkey,
               COUNT(DISTINCT o_orderkey) AS nd_orderkey,
               CAST(MIN(o_orderkey) AS VARCHAR) AS mn_orderkey,
               CAST(MAX(o_orderkey) AS VARCHAR) AS mx_orderkey,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_custkey,
               COUNT(DISTINCT o_custkey) AS nd_custkey,
               CAST(MIN(o_custkey) AS VARCHAR) AS mn_custkey,
               CAST(MAX(o_custkey) AS VARCHAR) AS mx_custkey,
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_status,
               COUNT(DISTINCT o_orderstatus) AS nd_status,
               MIN(o_orderstatus) AS mn_status,
               MAX(o_orderstatus) AS mx_status,
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_price,
               COUNT(DISTINCT o_totalprice) AS nd_price,
               CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mn_price,
               CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mx_price,
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_date,
               COUNT(DISTINCT o_orderdate) AS nd_date,
               strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mn_date,
               strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mx_date,
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_prio,
               COUNT(DISTINCT o_orderpriority) AS nd_prio,
               MIN(o_orderpriority) AS mn_prio,
               MAX(o_orderpriority) AS mx_prio
        FROM orders)
      SELECT col_name, n_rows, n_null, n_distinct, min_val, max_val FROM (
        SELECT 'o_custkey' AS col_name, n_rows, nn_custkey AS n_null,
               nd_custkey AS n_distinct, mn_custkey AS min_val,
               mx_custkey AS max_val FROM a
        UNION ALL
        SELECT 'o_orderdate', n_rows, nn_date, nd_date, mn_date, mx_date FROM a
        UNION ALL
        SELECT 'o_orderkey', n_rows, nn_orderkey, nd_orderkey, mn_orderkey,
               mx_orderkey FROM a
        UNION ALL
        SELECT 'o_orderpriority', n_rows, nn_prio, nd_prio, mn_prio,
               mx_prio FROM a
        UNION ALL
        SELECT 'o_orderstatus', n_rows, nn_status, nd_status, mn_status,
               mx_status FROM a
        UNION ALL
        SELECT 'o_totalprice', n_rows, nn_price, nd_price, mn_price,
               mx_price FROM a) u
      ORDER BY col_name"""))

  /** Benford first-digit screen — the forensic test for fabricated
    * numeric data: the leading significant digit of naturally-grown
    * quantities follows P(d) = log₁₀(1 + 1/d), and ledgers that
    * don't are flagged for audit. Per digit 1–9: observed count,
    * Benford-expected count in exact micro-units (N · p_micro with
    * the nine log constants precomputed as integer literals — no
    * runtime log, no float), and the signed deviation — ALL BIGINT,
    * so the screen is hash-stable by construction. The χ² rollup is
    * deliberately left to the consumer: a cross-digit double sum
    * would reintroduce accumulation-order sensitivity for zero
    * analytic gain.
    *
    * Scale shape: the digit is one string op on the scan, the
    * screen one 9-group aggregate + a one-row total broadcast. */
  val qStatsBenford = Q(
    "q_stats_benford",
    (s, dir) => {
      val digits = t(s, dir, "lineitem")
        .select(expr(
          "cast(substring(cast(cast(round(l_extendedprice * 100) as bigint) as string), 1, 1) as bigint)")
          .as("digit"))
      val obs = digits.groupBy(col("digit"))
        .agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum(col("n_obs")).as("nn"))
      val bb = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
        4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
        8 -> 51153L, 9 -> 45757L)
      val benford = {
        import s.implicits._
        bb.toDF("digit", "p_micro").select(col("digit").cast("long")
          .as("digit"), col("p_micro"))
      }
      obs.join(broadcast(benford), "digit")
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"),
          (col("nn") * col("p_micro")).as("expected_micro"),
          (col("n_obs") * lit(1000000L) - col("nn") * col("p_micro"))
            .as("deviation_micro"))
        .orderBy(col("digit"))
    },
    Some("""
      WITH digits AS (
        SELECT CAST(substr(CAST(CAST(ROUND(l_extendedprice * 100)
                 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM lineitem),
      obs AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM digits GROUP BY digit),
      tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS nn FROM obs),
      benford(digit, p_micro) AS (VALUES
        (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        (6, 66947), (7, 57992), (8, 51153), (9, 45757))
      SELECT o.digit, o.n_obs,
             t.nn * b.p_micro AS expected_micro,
             o.n_obs * 1000000 - t.nn * b.p_micro AS deviation_micro
      FROM obs o
      JOIN benford b ON b.digit = o.digit
      CROSS JOIN tot t
      ORDER BY o.digit"""))

  /** A/B experiment report — Welch's unequal-variance t statistic
    * comparing mean event value between two treatment arms (the
    * `click` and `view` event streams standing in for variant A/B):
    * per-arm n, mean, and sample variance from exact integer
    * micro-unit sums, combined into the t statistic in ONE double op
    * tree (identical both engines, round 6). The decision table an
    * experimentation pipeline emits; |t| ≳ 2 → the arms differ.
    *
    * Scale shape: one map-side-combined aggregate over the two arms
    * (a 2-row frame after partial aggregation), then a 2-row pivot —
    * no shuffle carries more than the sufficient statistics. */
  val qStatsAbtest = Q(
    "q_stats_abtest",
    (s, dir) => {
      val m = t(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"),
          expr("cast(round(value * 1000000) as bigint)").as("x"))
      val sums = m.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(expr("cast(x as decimal(25,0))")).as("sx"),
        sum(expr("cast(x * x as decimal(38,0))")).as("sxx"))
      val wide = sums.agg(
        max(when(col("event_type") === "click", col("n"))).as("na"),
        max(when(col("event_type") === "click", col("sx"))).as("sxa"),
        max(when(col("event_type") === "click", col("sxx"))).as("sxxa"),
        max(when(col("event_type") === "view", col("n"))).as("nb"),
        max(when(col("event_type") === "view", col("sx"))).as("sxb"),
        max(when(col("event_type") === "view", col("sxx"))).as("sxxb"))
      def meanD(sx: Column, n: Column): Column =
        sx.cast("double") / n.cast("double") / lit(1000000.0)
      def varD(sxx: Column, sx: Column, n: Column): Column =
        (n.cast("double") * sxx.cast("double") -
          sx.cast("double") * sx.cast("double")) /
          (n.cast("double") * (n.cast("double") - lit(1.0))) /
          lit(1000000.0) / lit(1000000.0)
      wide.select(
          col("na"), round(meanD(col("sxa"), col("na")), 6).as("mean_a"),
          col("nb"), round(meanD(col("sxb"), col("nb")), 6).as("mean_b"),
          round((meanD(col("sxa"), col("na")) -
            meanD(col("sxb"), col("nb"))) /
            sqrt(varD(col("sxxa"), col("sxa"), col("na")) /
              col("na").cast("double") +
              varD(col("sxxb"), col("sxb"), col("nb")) /
                col("nb").cast("double")), 6).as("welch_t"))
    },
    Some("""
      WITH m AS (
        SELECT event_type, CAST(ROUND(value * 1000000) AS BIGINT) AS x
        FROM events WHERE event_type IN ('click', 'view')),
      sums AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS sx,
               CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0))
                 AS sxx
        FROM m GROUP BY event_type),
      wide AS (
        SELECT
          MAX(CASE WHEN event_type = 'click' THEN n END) AS na,
          MAX(CASE WHEN event_type = 'click' THEN sx END) AS sxa,
          MAX(CASE WHEN event_type = 'click' THEN sxx END) AS sxxa,
          MAX(CASE WHEN event_type = 'view' THEN n END) AS nb,
          MAX(CASE WHEN event_type = 'view' THEN sx END) AS sxb,
          MAX(CASE WHEN event_type = 'view' THEN sxx END) AS sxxb
        FROM sums)
      SELECT na,
             ROUND(CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) / 1000000.0,
                   6) AS mean_a,
             nb,
             ROUND(CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000.0,
                   6) AS mean_b,
             ROUND((CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) / 1000000.0
                    - CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE)
                      / 1000000.0)
                   / SQRT(((CAST(na AS DOUBLE) * CAST(sxxa AS DOUBLE)
                            - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE))
                           / (CAST(na AS DOUBLE)
                              * (CAST(na AS DOUBLE) - 1.0))
                           / 1000000.0 / 1000000.0)
                          / CAST(na AS DOUBLE)
                          + ((CAST(nb AS DOUBLE) * CAST(sxxb AS DOUBLE)
                              - CAST(sxb AS DOUBLE)
                                * CAST(sxb AS DOUBLE))
                             / (CAST(nb AS DOUBLE)
                                * (CAST(nb AS DOUBLE) - 1.0))
                             / 1000000.0 / 1000000.0)
                          / CAST(nb AS DOUBLE)), 6) AS welch_t
      FROM wide"""))

  /** Per-group simple linear regression (value trend over time) from
    * the five sufficient statistics: slope, intercept, and r² for
    * each event type's value-vs-hour trend, computed entirely from
    * exact integer sums (x = hours since 2024-01-01, y = value in
    * integer micro-units) combined in bounded-width DECIMALs — only
    * the final divisions happen in DOUBLE, with an identical
    * operation tree on both engines.
    *
    * Scale shape: ONE map-side-combinable aggregate per group —
    * the sufficient-statistic formulation is why regression
    * distributes (no centering pass, no second scan); the r²
    * numerator squares in DOUBLE because its exact width (~52
    * digits) exceeds any decimal, and both engines square the SAME
    * correctly-rounded double. */
  val qStatsRegression = Q(
    "q_stats_regression",
    (s, dir) => {
      val sums = t(s, dir, "events")
        .select(col("event_type"),
          expr("(unix_micros(ts) - 1704067200000000L) div 3600000000L")
            .as("x"),
          expr("cast(round(value * 1000000) as bigint)").as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          // ALL moment sums accumulate in DECIMAL(25,0) (ADVICE r8): a
          // plain BIGINT sum of x·y / x·x wraps SILENTLY at large scale
          // under non-ANSI Spark while DuckDB's HUGEINT doesn't — the
          // decimal buffer makes overflow an error, not a wrong slope.
          // decimal→double and bigint→double casts are both correctly
          // rounded from the same exact integer, so parity is untouched.
          sum(expr("cast(x as decimal(25,0))")).as("sx"),
          sum(expr("cast(y as decimal(25,0))")).as("sy"),
          sum(expr("cast(x * y as decimal(25,0))")).as("sxy"),
          sum(expr("cast(x * x as decimal(25,0))")).as("sxx"),
          sum(expr("cast(y * y as decimal(25,0))")).as("syy"))
      // the DECIMAL sums are exact; every factor below is
      // either exactly double-representable (< 2^53) or a correctly-
      // rounded decimal→double cast, and the combination runs in
      // DOUBLE with the same op tree as the oracle — deterministic
      // cross-engine without decimal-width gymnastics
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double")
      val syD = col("sy").cast("double")
      val sxyD = col("sxy").cast("double")
      val sxxD = col("sxx").cast("double")
      val syyD = col("syy").cast("double")
      val num = nD * sxyD - sxD * syD
      val den = nD * sxxD - sxD * sxD
      val syDen = nD * syyD - syD * syD
      sums.select(col("event_type"), col("n"),
        round(num / den / 1000000.0, 6).as("slope"),
        round((syD * sxxD - sxD * sxyD) / den / 1000000.0, 6)
          .as("intercept"),
        round(num * num / (den * syDen), 6).as("r2"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH pts AS (
        SELECT event_type,
               (epoch_us(ts) - 1704067200000000) // 3600000000 AS x,
               CAST(ROUND(value * 1000000) AS BIGINT) AS y
        FROM events),
      sums AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS syy
        FROM pts GROUP BY event_type)
      SELECT event_type, n,
             ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   / 1000000.0, 6) AS slope,
             ROUND((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   / 1000000.0, 6) AS intercept,
             ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
      FROM sums ORDER BY event_type"""))

  /** Per-group Pearson correlation matrix over the lineitem measures
    * (quantity, extendedprice, discount — all exact in cent units):
    * the three pairwise r values per return flag from the same
    * sufficient-statistic discipline as [[qStatsRegression]] — ONE
    * map-side-combinable aggregate collects exact BIGINT/DECIMAL
    * sums, and r = (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²))
    * combines them in DOUBLE with an identical op tree on both
    * engines (IEEE sqrt is correctly rounded — deterministic).
    * The warehouse "are these measures redundant" diagnostic and the
    * feature-decorrelation check before a model consumes them. */
  val qStatsCorr = Q(
    "q_stats_corr",
    (s, dir) => {
      val m = t(s, dir, "lineitem").select(col("l_returnflag"),
        expr("cast(round(l_quantity * 100) as bigint)").as("x"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("y"),
        expr("cast(round(l_discount * 100) as bigint)").as("z"))
      val sums = m.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        // first-moment sums widened to DECIMAL(25,0) like the second
        // moments below (ADVICE r8): BIGINT wraps silently at scale
        sum(expr("cast(x as decimal(25,0))")).as("sx"),
        sum(expr("cast(y as decimal(25,0))")).as("sy"),
        sum(expr("cast(z as decimal(25,0))")).as("sz"),
        sum(expr("cast(x * x as decimal(25,0))")).as("sxx"),
        sum(expr("cast(y * y as decimal(25,0))")).as("syy"),
        sum(expr("cast(z * z as decimal(25,0))")).as("szz"),
        sum(expr("cast(x * y as decimal(25,0))")).as("sxy"),
        sum(expr("cast(x * z as decimal(25,0))")).as("sxz"),
        sum(expr("cast(y * z as decimal(25,0))")).as("syz"))
      def corr(sa: String, sb: String, sab: String, saa: String,
          sbb: String): Column = {
        val nD = col("n").cast("double")
        val num = nD * col(sab).cast("double") -
          col(sa).cast("double") * col(sb).cast("double")
        val da = nD * col(saa).cast("double") -
          col(sa).cast("double") * col(sa).cast("double")
        val db = nD * col(sbb).cast("double") -
          col(sb).cast("double") * col(sb).cast("double")
        round(num / sqrt(da * db), 6)
      }
      sums.select(col("l_returnflag"), col("n"),
          corr("sx", "sy", "sxy", "sxx", "syy").as("corr_qty_price"),
          corr("sx", "sz", "sxz", "sxx", "szz").as("corr_qty_disc"),
          corr("sy", "sz", "syz", "syy", "szz").as("corr_price_disc"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      WITH m AS (
        SELECT l_returnflag,
               CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS z
        FROM lineitem),
      sums AS (
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(CAST(x * x AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS syy,
               CAST(SUM(CAST(z * z AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS szz,
               CAST(SUM(CAST(x * y AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS sxy,
               CAST(SUM(CAST(x * z AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS sxz,
               CAST(SUM(CAST(y * z AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS syz
        FROM m GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               AS corr_qty_price,
             ROUND((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
                   / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                             - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 6)
               AS corr_qty_disc,
             ROUND((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
                   / SQRT((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                             - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 6)
               AS corr_price_disc
      FROM sums ORDER BY l_returnflag"""))

  /** Join-key skew diagnostic over l_partkey — the report that decides
    * whether a key needs the q_join_salted treatment before a big
    * join: key cardinality, max/median/p99 per-key counts, the
    * max-to-median skew ratio, and the share of rows owned by the ten
    * heaviest keys. All statistics derive from the per-key COUNT
    * table (one exchange on the key, map-side combined), never from a
    * second corpus pass; the top-10 is a TakeOrdered and the exact
    * percentiles run over |keys| rows, not |rows|. */
  val qStatsSkew = Q(
    "q_stats_skew",
    (s, dir) => {
      val counts = t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("c"))
      val top10 = counts.orderBy(col("c").desc, col("l_partkey")).limit(10)
        .agg(sum(col("c")).as("top10_rows"))
      counts.agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("max_cnt"),
          expr("percentile(c, 0.5D)").as("p50d"),
          expr("percentile(c, 0.99D)").as("p99d"))
        .crossJoin(broadcast(top10))
        .select(col("n_keys"), col("n_rows"), col("max_cnt"),
          round(col("p50d"), 6).as("p50_cnt"),
          round(col("p99d"), 6).as("p99_cnt"),
          round(col("max_cnt").cast("double") / col("p50d"), 6)
            .as("skew_ratio"),
          round(col("top10_rows").cast("double") /
            col("n_rows").cast("double"), 6).as("top10_share"))
    },
    Some("""
      WITH counts AS (
        SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY l_partkey),
      top10 AS (
        SELECT CAST(SUM(c) AS BIGINT) AS top10_rows FROM (
          SELECT c FROM counts ORDER BY c DESC, l_partkey LIMIT 10) x),
      agg AS (
        SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
               MAX(c) AS max_cnt,
               quantile_cont(c, 0.5) AS p50d,
               quantile_cont(c, 0.99) AS p99d
        FROM counts)
      SELECT n_keys, n_rows, max_cnt,
             ROUND(p50d, 6) AS p50_cnt, ROUND(p99d, 6) AS p99_cnt,
             ROUND(CAST(max_cnt AS DOUBLE) / p50d, 6) AS skew_ratio,
             ROUND(CAST(top10_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
               AS top10_share
      FROM agg CROSS JOIN top10"""))

  /** Inter-rater agreement (Cohen's kappa) between two independent
    * document-quality raters — here the char-length gate (≥300) and
    * the token-count gate (≥55), per language: the calibration step
    * before trusting any single heuristic filter, and the same
    * machinery that scores human labeler agreement on eval sets. All
    * four contingency cells, the observed agreement, and the
    * chance-corrected kappa reduce to exact integer arithmetic: with
    * agree = n11+n00 and pe_num = (n11+n10)(n11+n01)+(n01+n00)(n10+n00),
    * kappa = (n·agree − pe_num) / (n² − pe_num) — the query emits
    * po/pe in exact micro-units plus kappa's integer numerator and
    * denominator, so the gate is bit-exact with no cross-engine
    * float-division ambiguity (kappa_num may be negative; DIV-vs-floor
    * divergence on negatives is why it ships as a fraction). Products
    * stay < 2⁶³ while per-stratum n < ~3·10⁶; beyond that the sums
    * widen to DECIMAL exactly like q_stats_regression's moments.
    *
    * Scale shape: one narrow corpus pass → per-language partial
    * counts → a |languages|-row final aggregate; the kappa algebra is
    * a projection over that tiny frame. */
  val qStatsKappa = Q(
    "q_stats_kappa",
    (s, dir) => {
      val a = (col("n_chars") >= 300).cast("long")
      val b = (size(split(col("text"), " ")) >= 55).cast("long")
      Tables.spread(t(s, dir, "documents"))
        .select(col("lang"), a.as("ra"), b.as("rb"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("ra") * col("rb")).as("n11"),
          sum(col("ra") * (lit(1L) - col("rb"))).as("n10"),
          sum((lit(1L) - col("ra")) * col("rb")).as("n01"),
          sum((lit(1L) - col("ra")) * (lit(1L) - col("rb"))).as("n00"))
        .select(col("lang"), col("n"),
          expr("CAST((n11 + n00) * 1000000 DIV n AS BIGINT)")
            .as("po_micro"),
          expr("""CAST(((n11 + n10) * (n11 + n01)
                        + (n01 + n00) * (n10 + n00)) * 1000000
                       DIV (n * n) AS BIGINT)""").as("pe_micro"),
          expr("""CAST(n * (n11 + n00) - ((n11 + n10) * (n11 + n01)
                        + (n01 + n00) * (n10 + n00)) AS BIGINT)""")
            .as("kappa_num"),
          expr("""CAST(n * n - ((n11 + n10) * (n11 + n01)
                        + (n01 + n00) * (n10 + n00)) AS BIGINT)""")
            .as("kappa_den"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH d AS (
        SELECT lang,
               CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS ra,
               CASE WHEN len(string_split(text, ' ')) >= 55
                    THEN 1 ELSE 0 END AS rb
        FROM documents),
      c AS (
        SELECT lang, COUNT(*) AS n,
               CAST(SUM(ra * rb) AS BIGINT) AS n11,
               CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
               CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01,
               CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00
        FROM d GROUP BY lang)
      SELECT lang, n,
             CAST((n11 + n00) * 1000000 // n AS BIGINT) AS po_micro,
             CAST(((n11 + n10) * (n11 + n01)
                   + (n01 + n00) * (n10 + n00)) * 1000000
                  // (n * n) AS BIGINT) AS pe_micro,
             CAST(n * (n11 + n00) - ((n11 + n10) * (n11 + n01)
                   + (n01 + n00) * (n10 + n00)) AS BIGINT) AS kappa_num,
             CAST(n * n - ((n11 + n10) * (n11 + n01)
                   + (n01 + n00) * (n10 + n00)) AS BIGINT) AS kappa_den
      FROM c ORDER BY lang"""))

  /** Poisson-bootstrap confidence interval for the mean purchase
    * value — the distributed bootstrap (Chamandy et al.'s Poisson
    * approximation): instead of multinomial resampling (which needs
    * global coordination), each row independently draws a
    * Poisson(1) weight per replicate, so the 100 replicate sums
    * partial-aggregate map-side and the shuffle carries 100 partials
    * per partition regardless of corpus size. The draws are
    * DETERMINISTIC — uniform micro-integers from the engine's md5
    * fingerprint of (event_id, replicate), inverted through the
    * Poisson(1) CDF as fixed integer thresholds — so DuckDB rebuilds
    * the IDENTICAL resample and the gate hash-matches the whole CI,
    * not a distributional property. Replicate means and the CI
    * endpoints (3rd / 98th order statistics of 100 means — the 2.5%
    * and 97.5% percentile bootstrap) stay in exact integer micro-units
    * under floor division; the final sort is a bounded 100-element
    * array, never a corpus sort. */
  val qStatsBootstrap = Q(
    "q_stats_bootstrap",
    (s, dir) => {
      val x = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          expr("cast(round(value * 1000000) as bigint)").as("x"))
      val reps = s.range(0, 100).toDF("b")
      val u = pmod(graft.functions.TextFunctions.md5Bits(
        concat(col("event_id").cast("string"), lit(":"),
          col("b").cast("string"))).getField("h"), lit(1000000L))
      val w = when(u < 367879L, 0L).when(u < 735759L, 1L)
        .when(u < 919699L, 2L).when(u < 980830L, 3L)
        .when(u < 996340L, 4L).when(u < 999406L, 5L).otherwise(6L)
      val means = x.crossJoin(reps)
        .select(col("b"), col("x"), w.as("w"))
        .groupBy(col("b"))
        .agg(sum(col("w")).as("sw"), sum(col("w") * col("x")).as("swx"))
        .select(expr("CAST(swx DIV sw AS BIGINT)").as("mean_micro"))
        // exactly |reps| rows by construction; the explicit limit puts
        // that bound IN-PLAN so the collect_list below is provably
        // bounded (the PlanAudit contract), order-irrelevant under
        // sort_array
        .limit(100)
      val ci = means.agg(sort_array(collect_list(col("mean_micro")))
          .as("ms"))
        .select(element_at(col("ms"), 3).as("ci_lo_micro"),
          element_at(col("ms"), 98).as("ci_hi_micro"))
      x.agg(count(lit(1)).as("n_obs"), sum(col("x")).as("sx"))
        .crossJoin(ci)
        .select(col("n_obs"),
          expr("CAST(sx DIV n_obs AS BIGINT)").as("mean_micro"),
          col("ci_lo_micro"), col("ci_hi_micro"),
          lit(100L).as("n_replicates"))
    },
    Some("""
      WITH x AS (
        SELECT event_id, CAST(ROUND(value * 1000000) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'),
      reps AS (SELECT unnest(range(0, 100)) AS b),
      draws AS (
        SELECT b, x,
               CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                 || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS u
        FROM x CROSS JOIN reps),
      weighted AS (
        SELECT b, x,
               CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                    WHEN u < 919699 THEN 2 WHEN u < 980830 THEN 3
                    WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
                    ELSE 6 END AS w
        FROM draws),
      r AS (SELECT b, CAST(SUM(w) AS BIGINT) AS sw,
                   CAST(SUM(w * x) AS BIGINT) AS swx
            FROM weighted GROUP BY b),
      means AS (SELECT swx // sw AS mean_micro FROM r),
      ms AS (SELECT list_sort(list(mean_micro)) AS l FROM means),
      base AS (SELECT COUNT(*) AS n_obs, CAST(SUM(x) AS BIGINT) AS sx
               FROM x)
      SELECT n_obs, sx // n_obs AS mean_micro,
             l[3] AS ci_lo_micro, l[98] AS ci_hi_micro,
             CAST(100 AS BIGINT) AS n_replicates
      FROM base CROSS JOIN ms"""))

  /** Brown–Forsythe variance-homogeneity screen (Levene's test on
    * deviations from the MEDIAN) across event types over the event
    * value column — the guard every pooled-variance analysis
    * ([[qStatsAbtest]]'s equal-variance t, ANOVA F) should run first:
    * are the per-group SPREADS even comparable? Median-centering is
    * what makes it robust to the skew these value distributions have.
    *
    * Exactness: values double to `2·round(value·100)` so each group's
    * interpolated median is an INTEGER ([[qPercentile]] parity:
    * percentile ≡ quantile_cont, and midpoints of even integers are
    * exact); absolute deviations d are then pure BIGINT, and each
    * group gates on (n_g, Σd, Σd²) exactly. The F statistic's
    * cross-group sums use the rounded-then-DECIMAL discipline
    * ([[qStatsKruskal]]): per-group numerator/denominator terms are
    * single IEEE expressions over gated integers rounded to 3
    * decimals, summed order-independently; F itself is one rounded
    * expression over those sums.
    *
    * Scale shape: one value exchange for the per-group median (exact
    * percentile — the GK sketch is the documented 100 TB swap), one
    * broadcast median join back, one group aggregate; the one-row
    * (N, S, k) scalar and the k-row term reduction ride broadcast
    * cross joins. */
  val qStatsLevene = Q(
    "q_stats_levene",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("cast(round(value * 100) as bigint) * 2").as("x2"))
      val med = ev.groupBy(col("event_type"))
        .agg(expr("cast(percentile(x2, 0.5D) as bigint)").as("med2"))
      val g = ev.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), abs(col("x2") - col("med2")).as("d"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_g"),
          sum(col("d")).as("s_d"),
          sum(col("d") * col("d")).as("ss_d"))
      val tot = g.agg(sum(col("n_g")).as("nn"), sum(col("s_d")).as("ss"),
        count(lit(1)).as("k"))
      val terms = g.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n_g"), col("s_d"), col("ss_d"),
          col("nn"), col("ss"), col("k"),
          expr("""cast(round(
              (cast(s_d as double) * cast(nn as double) -
               cast(ss as double) * cast(n_g as double)) *
              (cast(s_d as double) * cast(nn as double) -
               cast(ss as double) * cast(n_g as double)) /
              (cast(n_g as double) * cast(nn as double) *
               cast(nn as double)), 3) as decimal(25,3))""").as("t_num"),
          expr("""cast(round(cast(ss_d as double) -
              cast(s_d as double) * cast(s_d as double) /
              cast(n_g as double), 3) as decimal(25,3))""").as("t_den"))
        // the k-row term table feeds the F reduction AND the output
        // rows; persist so the corpus median/deviation chain runs once
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val f = terms.agg(sum(col("t_num")).as("num"),
          sum(col("t_den")).as("den"),
          max(col("nn")).as("nn"), max(col("k")).as("k"))
        .select(round(
          (col("nn") - col("k")).cast("double") /
            (col("k") - 1).cast("double") *
            col("num").cast("double") / col("den").cast("double"), 6)
          .as("f_stat"))
      QueryScopedCache.releaseAfter(
        terms
          .select(col("event_type"), col("n_g"), col("s_d"), col("ss_d"))
          .crossJoin(broadcast(f))
          .orderBy(col("event_type")),
        Seq(terms))
    },
    Some("""
      WITH ev AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) * 2 AS x2
        FROM events),
      med AS (
        SELECT event_type,
               CAST(quantile_cont(x2, 0.5) AS BIGINT) AS med2
        FROM ev GROUP BY 1),
      g AS (
        SELECT e.event_type, COUNT(*) AS n_g,
               CAST(SUM(abs(e.x2 - m.med2)) AS BIGINT) AS s_d,
               CAST(SUM(abs(e.x2 - m.med2) * abs(e.x2 - m.med2))
                 AS BIGINT) AS ss_d
        FROM ev e JOIN med m USING (event_type)
        GROUP BY e.event_type),
      tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS nn,
               CAST(SUM(s_d) AS BIGINT) AS ss,
               COUNT(*) AS k
        FROM g),
      terms AS (
        SELECT g.event_type, g.n_g, g.s_d, g.ss_d, t.nn, t.ss, t.k,
               CAST(ROUND(
                 (CAST(g.s_d AS DOUBLE) * CAST(t.nn AS DOUBLE) -
                  CAST(t.ss AS DOUBLE) * CAST(g.n_g AS DOUBLE)) *
                 (CAST(g.s_d AS DOUBLE) * CAST(t.nn AS DOUBLE) -
                  CAST(t.ss AS DOUBLE) * CAST(g.n_g AS DOUBLE)) /
                 (CAST(g.n_g AS DOUBLE) * CAST(t.nn AS DOUBLE) *
                  CAST(t.nn AS DOUBLE)), 3) AS DECIMAL(25,3)) AS t_num,
               CAST(ROUND(CAST(g.ss_d AS DOUBLE) -
                 CAST(g.s_d AS DOUBLE) * CAST(g.s_d AS DOUBLE) /
                 CAST(g.n_g AS DOUBLE), 3) AS DECIMAL(25,3)) AS t_den
        FROM g CROSS JOIN tot t),
      f AS (
        SELECT ROUND(
                 CAST(MAX(nn) - MAX(k) AS DOUBLE) /
                 CAST(MAX(k) - 1 AS DOUBLE) *
                 CAST(SUM(t_num) AS DOUBLE) /
                 CAST(SUM(t_den) AS DOUBLE), 6) AS f_stat
        FROM terms)
      SELECT t.event_type, t.n_g, t.s_d, t.ss_d, f.f_stat
      FROM terms t CROSS JOIN f
      ORDER BY t.event_type"""))

  /** Referential-integrity audit across the whole star schema — for
    * each foreign-key edge (lineitem→orders, orders→customer,
    * lineitem→part, lineitem→supplier, embeddings→documents), the
    * row count, orphan count (child rows whose parent key is
    * missing), and orphan fraction: the first report a warehouse runs
    * on any delivered feed, and the join-safety precondition every
    * query in this registry silently assumes. Five anti-join counts,
    * one result row each.
    *
    * Scale shape: each check is one LEFT ANTI join on the FK — the
    * parent side is the smaller relation (broadcast where Catalyst
    * chooses) and ONLY the key columns are scanned (column pruning
    * reaches the parquet footer); the five one-row aggregates union
    * into a bounded result. No window, no explode. */
  val qStatsIntegrity = Q(
    "q_stats_integrity",
    (s, dir) => {
      def check(name: String, child: DataFrame, childKey: String,
          parent: DataFrame, parentKey: String): DataFrame = {
        val orphans = child
          .join(parent.select(col(parentKey).as(childKey)),
            Seq(childKey), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        child.agg(count(lit(1)).as("n_rows"))
          .crossJoin(broadcast(orphans))
          .select(lit(name).as("fk_edge"), col("n_rows"),
            col("n_orphans"),
            round(col("n_orphans").cast("double") /
              col("n_rows").cast("double"), 6).as("orphan_frac"))
      }
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      check("embeddings->documents",
          Tables.spread(t(s, dir, "embeddings"))
            .select(col("vec_id").as("doc_id")), "doc_id",
          t(s, dir, "documents"), "doc_id")
        .unionByName(check("lineitem->orders",
          li.select(col("l_orderkey")), "l_orderkey",
          o, "o_orderkey"))
        .unionByName(check("lineitem->part",
          li.select(col("l_partkey")), "l_partkey",
          t(s, dir, "part"), "p_partkey"))
        .unionByName(check("lineitem->supplier",
          li.select(col("l_suppkey")), "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(check("orders->customer",
          o.select(col("o_custkey")), "o_custkey",
          t(s, dir, "customer"), "c_custkey"))
        .orderBy(col("fk_edge"))
    },
    Some("""
      SELECT 'embeddings->documents' AS fk_edge,
             (SELECT COUNT(*) FROM embeddings) AS n_rows,
             (SELECT COUNT(*) FROM embeddings e
              WHERE NOT EXISTS (SELECT 1 FROM documents d
                                WHERE d.doc_id = e.vec_id)) AS n_orphans,
             ROUND(CAST((SELECT COUNT(*) FROM embeddings e
               WHERE NOT EXISTS (SELECT 1 FROM documents d
                                 WHERE d.doc_id = e.vec_id)) AS DOUBLE) /
               CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE), 6)
               AS orphan_frac
      UNION ALL
      SELECT 'lineitem->orders',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey)),
             ROUND(CAST((SELECT COUNT(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey))
               AS DOUBLE) /
               CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE), 6)
      UNION ALL
      SELECT 'lineitem->part',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey)),
             ROUND(CAST((SELECT COUNT(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM part p
                                 WHERE p.p_partkey = l.l_partkey))
               AS DOUBLE) /
               CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE), 6)
      UNION ALL
      SELECT 'lineitem->supplier',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                WHERE s.s_suppkey = l.l_suppkey)),
             ROUND(CAST((SELECT COUNT(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                 WHERE s.s_suppkey = l.l_suppkey))
               AS DOUBLE) /
               CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE), 6)
      UNION ALL
      SELECT 'orders->customer',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)),
             ROUND(CAST((SELECT COUNT(*) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey))
               AS DOUBLE) /
               CAST((SELECT COUNT(*) FROM orders) AS DOUBLE), 6)
      ORDER BY fk_edge"""))

  /** Index-of-dispersion (variance-to-mean) screen over the hourly
    * event counts per type — the Poisson sanity check every count
    * model rests on: D ≈ 1 means arrivals are Poisson-compatible,
    * D ≫ 1 means bursty/overdispersed (use a negative-binomial or
    * expect clustered traffic), D ≪ 1 means regularized. Computed on
    * the zero-filled spine ([[hourlySeriesByType]] — absent hours are
    * real zero counts, and skipping them would bias D upward).
    *
    * (n, Σx, Σx²) gate as exact BIGINTs; D = (nQ − S²)/((n−1)·S) is
    * one rounded IEEE expression over them, and the overdispersion
    * verdict is the INTEGER cross-multiplication
    * 2·(nQ − S²) > 3·(n−1)·S (D > 1.5) — the
    * [[EventQueries.qEventsSloBurn]] no-float-decision rule. One
    * hourly exchange, one bounded per-type aggregate. */
  val qStatsDispersion = Q(
    "q_stats_dispersion",
    (s, dir) =>
      TsQueries.hourlySeriesByType(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(col("x") * col("x")).as("q"))
        .select(col("event_type"), col("n"), col("s"), col("q"),
          round((col("n") * col("q") - col("s") * col("s"))
            .cast("double") /
            ((col("n") - 1) * col("s")).cast("double"), 6)
            .as("dispersion"),
          (lit(2) * (col("n") * col("q") - col("s") * col("s")) >
            lit(3) * (col("n") - 1) * col("s")).as("overdispersed"))
        .orderBy(col("event_type")),
    Some(s"""
      WITH ${TsQueries.hourlySeriesByTypeSql}
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS q,
             ROUND(CAST(COUNT(*) * CAST(SUM(x * x) AS BIGINT) -
                     CAST(SUM(x) AS BIGINT) * CAST(SUM(x) AS BIGINT)
                   AS DOUBLE) /
                   CAST((COUNT(*) - 1) * CAST(SUM(x) AS BIGINT)
                   AS DOUBLE), 6) AS dispersion,
             2 * (COUNT(*) * CAST(SUM(x * x) AS BIGINT) -
                  CAST(SUM(x) AS BIGINT) * CAST(SUM(x) AS BIGINT)) >
             3 * (COUNT(*) - 1) * CAST(SUM(x) AS BIGINT)
               AS overdispersed
      FROM series GROUP BY event_type ORDER BY event_type"""))

  /** One-way ANOVA F — the parametric mean-difference test completing
    * the group-comparison triptych: [[qStatsKruskal]] is its rank
    * (non-parametric) twin and [[qStatsLevene]] its variance-
    * homogeneity precondition check, and all three share one plan
    * shape. Per event type the gate carries the exact integer
    * (n_g, Σx, Σx²) over centi-unit values; SSB decomposes per group
    * as (s_g·N − S·n_g)²/(n_g·N²) and SSW as ss_g − s_g²/n_g — each a
    * single IEEE expression over gated integers rounded to 3 and
    * DECIMAL-summed (order-independent), F and η² one rounded
    * expression each over those sums. At 100 TB the Σx² BIGINT
    * accumulate swaps to DECIMAL(25,0) (the [[qStatsRegression]]
    * overflow discipline); at fixture value ranges it is exact.
    *
    * Scale shape: one map-side-combined group aggregate over a
    * two-column scan; the one-row (N, S, k) totals, the k-row term
    * reduction, and the one-row (F, η²) scalar all ride broadcast
    * cross joins — no window, no value exchange (unlike Levene,
    * which needs the median). */
  val qStatsAnova = Q(
    "q_stats_anova",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("x"))
      val g = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_g"),
          sum(col("x")).as("s_x"),
          sum(col("x") * col("x")).as("ss_x"))
      val tot = g.agg(sum(col("n_g")).as("nn"), sum(col("s_x")).as("ss"),
        count(lit(1)).as("k"))
      val terms = g.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n_g"), col("s_x"), col("ss_x"),
          col("nn"), col("ss"), col("k"),
          expr("""cast(round(
              (cast(s_x as double) * cast(nn as double) -
               cast(ss as double) * cast(n_g as double)) *
              (cast(s_x as double) * cast(nn as double) -
               cast(ss as double) * cast(n_g as double)) /
              (cast(n_g as double) * cast(nn as double) *
               cast(nn as double)), 3) as decimal(25,3))""").as("t_b"),
          expr("""cast(round(cast(ss_x as double) -
              cast(s_x as double) * cast(s_x as double) /
              cast(n_g as double), 3) as decimal(25,3))""").as("t_w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val f = terms.agg(sum(col("t_b")).as("ssb"),
          sum(col("t_w")).as("ssw"),
          max(col("nn")).as("nn"), max(col("k")).as("k"))
        .select(
          round((col("nn") - col("k")).cast("double") /
              (col("k") - 1).cast("double") *
              col("ssb").cast("double") / col("ssw").cast("double"), 6)
            .as("f_stat"),
          round(col("ssb").cast("double") /
              (col("ssb") + col("ssw")).cast("double"), 6)
            .as("eta_sq"))
      QueryScopedCache.releaseAfter(
        terms
          .select(col("event_type"), col("n_g"), col("s_x"), col("ss_x"))
          .crossJoin(broadcast(f))
          .orderBy(col("event_type")),
        Seq(terms))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS x
        FROM events),
      g AS (
        SELECT event_type, COUNT(*) AS n_g,
               CAST(SUM(x) AS BIGINT) AS s_x,
               CAST(SUM(x * x) AS BIGINT) AS ss_x
        FROM ev GROUP BY event_type),
      tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS nn,
               CAST(SUM(s_x) AS BIGINT) AS ss,
               COUNT(*) AS k
        FROM g),
      terms AS (
        SELECT g.event_type, g.n_g, g.s_x, g.ss_x, t.nn, t.ss, t.k,
               CAST(ROUND(
                 (CAST(g.s_x AS DOUBLE) * CAST(t.nn AS DOUBLE) -
                  CAST(t.ss AS DOUBLE) * CAST(g.n_g AS DOUBLE)) *
                 (CAST(g.s_x AS DOUBLE) * CAST(t.nn AS DOUBLE) -
                  CAST(t.ss AS DOUBLE) * CAST(g.n_g AS DOUBLE)) /
                 (CAST(g.n_g AS DOUBLE) * CAST(t.nn AS DOUBLE) *
                  CAST(t.nn AS DOUBLE)), 3) AS DECIMAL(25,3)) AS t_b,
               CAST(ROUND(CAST(g.ss_x AS DOUBLE) -
                 CAST(g.s_x AS DOUBLE) * CAST(g.s_x AS DOUBLE) /
                 CAST(g.n_g AS DOUBLE), 3) AS DECIMAL(25,3)) AS t_w
        FROM g CROSS JOIN tot t),
      f AS (
        SELECT ROUND(
                 CAST(MAX(nn) - MAX(k) AS DOUBLE) /
                 CAST(MAX(k) - 1 AS DOUBLE) *
                 CAST(SUM(t_b) AS DOUBLE) /
                 CAST(SUM(t_w) AS DOUBLE), 6) AS f_stat,
               ROUND(CAST(SUM(t_b) AS DOUBLE) /
                 CAST(SUM(t_b) + SUM(t_w) AS DOUBLE), 6) AS eta_sq
        FROM terms)
      SELECT t.event_type, t.n_g, t.s_x, t.ss_x, f.f_stat, f.eta_sq
      FROM terms t CROSS JOIN f
      ORDER BY t.event_type"""))

  /** Sequential probability ratio test (Wald SPRT) — the
    * early-stopping monitor an experimentation platform runs INSTEAD
    * of a fixed-horizon test ([[qStatsAbtest]]): per stream, walk the
    * Bernoulli outcomes in time order accumulating the log-likelihood
    * ratio for H1: p = 0.22 against H0: p = 0.18, and STOP at the
    * first boundary crossing (upper ln((1−β)/α) → accept H1, lower
    * ln(β/(1−α)) → accept H0, α = β = 0.05); report where each stream
    * stopped, the verdict, and the LLR there. Because a Bernoulli
    * LLR takes only TWO increment values, the running sum is
    * n_succ·ln(p1/p0) + n_fail·ln(q1/q0) — so the engine holds the
    * increments as MICRO-scaled integer constants (200671 / −50010,
    * boundaries ±2944439) and the whole walk is exact BIGINT prefix
    * counting: no floating-point accumulation anywhere, the
    * [[RelationalQueries]] micro-unit parity rule. Streams are the
    * five event types; success = round(value·100) divisible by 5
    * (deterministic ≈ 0.2 Bernoulli both engines).
    *
    * Scale shape: ONE stream-keyed exchange carries all four windows
    * (two prefix counts, the row number, the first-crossing argmin
    * and per-stream total share partitioning and ordering) and the
    * final stop-row filter — per-stream state is four longs, never
    * the outcome list. */
  val qStatsSprt = Q(
    "q_stats_sprt",
    (s, dir) => {
      val wSeq = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val wAll = Window.partitionBy(col("event_type"))
      val run = wSeq.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      t(s, dir, "events")
        .select(col("event_type"), col("ts"), col("event_id"),
          when(round(col("value") * 100).cast("long") % 5 === 0, lit(1L))
            .otherwise(lit(0L)).as("succ"))
        .withColumn("rn", row_number().over(wSeq).cast("long"))
        .withColumn("llr_micro",
          sum(col("succ")).over(run) * lit(200671L) +
            (col("rn") - sum(col("succ")).over(run)) * lit(-50010L))
        .withColumn("crossed",
          col("llr_micro") >= 2944439L || col("llr_micro") <= -2944439L)
        .withColumn("stop_rn",
          min(when(col("crossed"), col("rn"))).over(wAll))
        .withColumn("n_total", count(lit(1)).over(wAll))
        .filter(col("rn") === coalesce(col("stop_rn"), col("n_total")))
        .select(col("event_type"), col("n_total"),
          col("stop_rn").isNotNull.as("stopped"),
          col("rn").as("stop_n"), col("llr_micro"),
          when(col("llr_micro") >= 2944439L, lit("H1"))
            .when(col("llr_micro") <= -2944439L, lit("H0"))
            .otherwise(lit("continue")).as("decision"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH o AS (
        SELECT event_type, ts, event_id,
               CASE WHEN CAST(ROUND(value * 100) AS BIGINT) % 5 = 0
                    THEN 1 ELSE 0 END AS succ,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
      walked AS (
        SELECT event_type, rn,
               CAST(SUM(succ) OVER run AS BIGINT) * 200671
                 + (rn - CAST(SUM(succ) OVER run AS BIGINT)) * -50010
                 AS llr_micro
        FROM o
        WINDOW run AS (PARTITION BY event_type ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      marked AS (
        SELECT event_type, rn, llr_micro,
               MIN(CASE WHEN llr_micro >= 2944439
                          OR llr_micro <= -2944439
                        THEN rn END)
                 OVER (PARTITION BY event_type) AS stop_rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_total
        FROM walked)
      SELECT event_type, n_total, stop_rn IS NOT NULL AS stopped,
             rn AS stop_n, llr_micro,
             CASE WHEN llr_micro >= 2944439 THEN 'H1'
                  WHEN llr_micro <= -2944439 THEN 'H0'
                  ELSE 'continue' END AS decision
      FROM marked
      WHERE rn = COALESCE(stop_rn, n_total)
      ORDER BY event_type"""))

  /** Input/output rows for the isotonic fit's typed per-partition
    * scan. */
  private[analytics] case class IsoIn(
      g: String, bin: Long, n: Long, pos: Long)
  private[analytics] case class IsoOut(
      g: String, bin: Long, n: Long, pos: Long,
      fit_num: Long, fit_den: Long)

  /** Isotonic regression (PAVA — pool-adjacent-violators) — fit the
    * best NON-DECREASING rate curve to each group's binned
    * positive-rate profile (weighted least squares): the calibration
    * step that turns [[PrepQueries.qPrepCalibration]]-style
    * reliability tables into a usable monotone score→probability
    * map (reward-model and quality-classifier calibration both end
    * here). Bins are quantity buckets, the label is "discount ≥
    * 0.05", groups are return flags. The engine runs the O(bins)
    * PAVA STACK — merge a new bin into the previous block while the
    * block means violate monotonicity — over each group's bounded
    * pre-aggregated bin frame; block means stay EXACT RATIONALS
    * (pos-sum, n-sum) compared by BIGINT cross-multiplication, so no
    * float ever steers a pooling decision. The oracle states the
    * closed-form minimax characterization — fit(i) = max over j ≤ i
    * of min over k ≥ i of mean(bins j..k) — which equals the PAVA
    * solution, so the gate certifies the imperative stack against
    * the declarative minimax over every cell (both engines render
    * the same block rational num/den with one IEEE division).
    *
    * Scale shape: the corpus pass is ONE (group, bin) rollup —
    * everything after operates on the bounded bin frame (a
    * calibration curve has dozens of bins by construction): one
    * group exchange, an in-partition sort, a single O(bins)-state
    * scan. The oracle's O(bins³) minimax never runs on the engine. */
  val qStatsIsotonic = Q(
    "q_stats_isotonic",
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("g"),
          (round(col("l_quantity")).cast("long") / lit(5))
            .cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_discount") >= 0.05, lit(1L)).otherwise(lit(0L)))
            .as("pos"))
      val fitted = bins
        .repartition(col("g"))
        .sortWithinPartitions(col("g"), col("bin"))
        .as[IsoIn]
        .mapPartitions { it =>
          // blocks: (startIdx in buf, pos-sum, n-sum); buf holds the
          // group's bins (bounded: a calibration grid, ≤ dozens)
          val buf = scala.collection.mutable.ArrayBuffer.empty[IsoIn]
          val blocks =
            scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
          var cur: String = null
          def flush(): Iterator[IsoOut] = {
            val out = blocks.iterator.zipWithIndex.flatMap {
              case ((st, p, nn), bi) =>
                val end = if (bi + 1 < blocks.length) blocks(bi + 1)._1
                          else buf.length
                (st until end).iterator.map { k =>
                  val b = buf(k)
                  IsoOut(b.g, b.bin, b.n, b.pos, p, nn)
                }
            }.toVector
            buf.clear(); blocks.clear()
            out.iterator
          }
          def push(r: IsoIn): Unit = {
            buf += r
            blocks += ((buf.length - 1, r.pos, r.n))
            // pool while mean(prev) > mean(last): p1/n1 > p2/n2
            while (blocks.length >= 2 && {
              val (_, p1, n1) = blocks(blocks.length - 2)
              val (_, p2, n2) = blocks(blocks.length - 1)
              p1 * n2 > p2 * n1
            }) {
              val (s2, p2, n2) = blocks.remove(blocks.length - 1)
              val (s1, p1, n1) = blocks.remove(blocks.length - 1)
              blocks += ((s1, p1 + p2, n1 + n2))
              val _ = s2
            }
          }
          (it.map(Some(_)) ++ Iterator(None)).flatMap {
            case None => flush()
            case Some(r) =>
              val pre = if (cur != null && r.g != cur) flush()
                        else Iterator.empty
              cur = r.g
              val outPre = pre.toVector
              push(r)
              outPre.iterator
          }
        }
        .toDF()
      fitted.select(col("g").as("l_returnflag"), col("bin"), col("n"),
          col("pos"),
          round(col("pos").cast("double") / col("n").cast("double"), 6)
            .as("rate"),
          round(col("fit_num").cast("double") /
            col("fit_den").cast("double"), 6).as("fit"))
        .orderBy(col("l_returnflag"), col("bin"))
    },
    Some("""
      WITH b AS (
        SELECT l_returnflag AS g,
               CAST(ROUND(l_quantity) AS BIGINT) // 5 AS bin,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)
                 AS BIGINT) AS pos
        FROM lineitem GROUP BY 1, 2),
      pf AS (
        SELECT g, bin, n, pos,
               CAST(SUM(pos) OVER w AS BIGINT) AS cp,
               CAST(SUM(n) OVER w AS BIGINT) AS cn
        FROM b
        WINDOW w AS (PARTITION BY g ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      pairs AS (
        SELECT a.g, c.bin AS j, a.bin AS k,
               a.cp - c.cp + c.pos AS num, a.cn - c.cn + c.n AS den
        FROM pf a JOIN pf c ON c.g = a.g AND c.bin <= a.bin),
      inner_min AS (
        SELECT i.g, p.j, i.bin AS bin,
               MIN(CAST(p.num AS DOUBLE) / CAST(p.den AS DOUBLE)) AS mn
        FROM b i JOIN pairs p
          ON p.g = i.g AND p.j <= i.bin AND p.k >= i.bin
        GROUP BY i.g, p.j, i.bin),
      fit AS (
        SELECT g, bin, MAX(mn) AS fit FROM inner_min GROUP BY g, bin)
      SELECT b.g AS l_returnflag, b.bin AS bin, b.n, b.pos,
             ROUND(CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE), 6)
               AS rate,
             ROUND(f.fit, 6) AS fit
      FROM b JOIN fit f ON f.g = b.g AND f.bin = b.bin
      ORDER BY l_returnflag, b.bin"""))

  /** Input row for the V-optimal DP's typed scan. */
  private[analytics] case class VoptIn(g: String, b: Long, n: Long)
  private[analytics] case class VoptOut(
      g: String, n_bins: Long, n_rows: Long, best_cost: Long)

  /** V-optimal histogram construction — the selectivity-estimation
    * histogram a cost-based optimizer keeps per column: partition the
    * per-group frequency vector (12 value buckets of order cents)
    * into K = 5 contiguous segments minimizing total within-segment
    * frequency variance (Jagadish et al., VLDB'98). The engine runs
    * the O(K·B²) dynamic program per group over the bounded bin
    * frame; the oracle ENUMERATES all C(B−1, K−1) cut tuples and
    * takes the minimum — DP ≡ exhaustive search, certified
    * cell-exactly. Costs are EXACT integers: segment SSE
    * Σ(nᵢ−mean)² = (len·S2 − S1²)/len is scaled by 27720/len
    * (27720 = lcm(1..12), so every denominator divides out) — no
    * float appears anywhere, the optimum is unique by value.
    *
    * Scale shape: one (group, bucket) rollup is the only data-sized
    * work; the DP runs on ≤ 12 rows per group in one bounded
    * mapPartitions (the [[qStatsIsotonic]] pattern). The oracle's
    * 330-combination enumeration never runs on the engine. */
  val qStatsVoptHist = Q(
    "q_stats_vopt_hist",
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("g"),
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) DIV 4194304")
            .as("b"))
        .agg(count(lit(1)).as("n"))
      bins.repartition(col("g"))
        .sortWithinPartitions(col("g"), col("b"))
        .as[VoptIn]
        .mapPartitions { it =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[VoptIn]
          var cur: String = null
          val K = 5
          def solve(): Iterator[VoptOut] = {
            if (buf.isEmpty) return Iterator.empty
            val ns = buf.map(_.n).toArray
            val B = ns.length
            val s1 = new Array[Long](B + 1)
            val s2 = new Array[Long](B + 1)
            for (i <- 0 until B) {
              s1(i + 1) = s1(i) + ns(i)
              s2(i + 1) = s2(i) + ns(i) * ns(i)
            }
            // exact integer segment cost, scaled by lcm(1..12)=27720
            def cost(i: Int, j: Int): Long = { // bins i..j-1 (0-based)
              val len = (j - i).toLong
              val a = s1(j) - s1(i); val q = s2(j) - s2(i)
              (len * q - a * a) * (27720L / len)
            }
            val kk = math.min(K, B)
            // dp(k)(j) = best cost of first j bins in k segments
            val INF = Long.MaxValue / 4
            var prev = Array.tabulate(B + 1)(j =>
              if (j == 0) 0L else INF)
            for (k <- 1 to kk) {
              val next = Array.fill(B + 1)(INF)
              for (j <- k to B; i <- (k - 1) until j)
                if (prev(i) < INF) {
                  val c = prev(i) + cost(i, j)
                  if (c < next(j)) next(j) = c
                }
              prev = next
            }
            val out = VoptOut(buf.head.g, B.toLong, s1(B), prev(B))
            buf.clear()
            Iterator.single(out)
          }
          (it.map(Some(_)) ++ Iterator(None)).flatMap {
            case None => solve()
            case Some(r) =>
              val pre = if (cur != null && r.g != cur) solve().toVector
                        else Vector.empty
              cur = r.g
              buf += r
              pre.iterator
          }
        }
        .toDF()
        .orderBy(col("g"))
    },
    Some("""
      WITH bins AS (
        SELECT o_orderpriority AS g,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) // 4194304
                 AS b,
               COUNT(*) AS n
        FROM orders GROUP BY 1, 2),
      idx AS (
        SELECT g, n,
               CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY b)
                 AS BIGINT) AS i,
               COUNT(*) OVER (PARTITION BY g) AS nb
        FROM bins),
      pf AS (
        SELECT g, i, nb,
               CAST(SUM(n) OVER w AS BIGINT) AS s1,
               CAST(SUM(n * n) OVER w AS BIGINT) AS s2
        FROM idx
        WINDOW w AS (PARTITION BY g ORDER BY i
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      pf0 AS (
        SELECT g, i, s1, s2, nb FROM pf
        UNION ALL
        SELECT DISTINCT g, 0, 0, 0, nb FROM pf),
      seg AS (
        SELECT a.g, lo.i AS i, a.i AS j,
               ((a.i - lo.i) * (a.s2 - lo.s2)
                 - (a.s1 - lo.s1) * (a.s1 - lo.s1))
                 * (27720 // (a.i - lo.i)) AS c
        FROM pf0 a JOIN pf0 lo
          ON lo.g = a.g AND lo.i < a.i),
      cuts AS (
        SELECT s1.g,
               s1.c + s2.c + s3.c + s4.c + s5.c AS total
        FROM seg s1
        JOIN seg s2 ON s2.g = s1.g AND s2.i = s1.j AND s1.i = 0
        JOIN seg s3 ON s3.g = s2.g AND s3.i = s2.j
        JOIN seg s4 ON s4.g = s3.g AND s4.i = s3.j
        JOIN seg s5 ON s5.g = s4.g AND s5.i = s4.j
        JOIN (SELECT g, MAX(i) AS nb FROM pf GROUP BY g) mx
          ON mx.g = s5.g AND s5.j = mx.nb),
      best AS (SELECT g, MIN(total) AS best_cost FROM cuts GROUP BY g),
      meta AS (
        SELECT g, MAX(nb) AS n_bins, MAX(s1) AS n_rows
        FROM pf GROUP BY g)
      SELECT m.g, m.n_bins, m.n_rows, b.best_cost
      FROM meta m JOIN best b USING (g)
      ORDER BY m.g"""))

  /** Mantel–Haenszel stratified odds ratio — the Simpson's-paradox
    * guard an experimentation platform applies before trusting a
    * crude A/B readout: pool the per-stratum 2×2 tables (strata =
    * event types, arm = user-id parity, outcome = the
    * [[qStatsSprt]] Bernoulli) with the MH weights a·d/n and b·c/n,
    * and report the pooled odds ratio next to the crude one — when
    * they disagree, stratum mix was confounding the comparison.
    * Each MH term is floored to micro-units ((a·d·10⁶) DIV n — the
    * documented convention, exact in BIGINT), so the pooled ratio is
    * a single rounded double over two exact integer sums; per-stratum
    * ORs divide exact cell products once.
    *
    * Scale shape: ONE (stratum, arm, outcome) rollup (20 rows),
    * bounded-frame algebra after; the pooled one-row scalar rides a
    * broadcast cross join. */
  val qStatsMh = Q(
    "q_stats_mh",
    (s, dir) => {
      val cells = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("user_id") % 2 === 0 &&
            round(col("value") * 100).cast("long") % 5 === 0, 1L)
            .otherwise(0L)).as("a"),
          sum(when(col("user_id") % 2 === 0 &&
            round(col("value") * 100).cast("long") % 5 =!= 0, 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("user_id") % 2 =!= 0 &&
            round(col("value") * 100).cast("long") % 5 === 0, 1L)
            .otherwise(0L)).as("c"),
          sum(when(col("user_id") % 2 =!= 0 &&
            round(col("value") * 100).cast("long") % 5 =!= 0, 1L)
            .otherwise(0L)).as("d"))
        .withColumn("n", col("a") + col("b") + col("c") + col("d"))
        .withColumn("mh_num_micro", expr("(a * d * 1000000) DIV n"))
        .withColumn("mh_den_micro", expr("(b * c * 1000000) DIV n"))
      val pooled = cells.agg(
        sum(col("mh_num_micro")).as("sn"), sum(col("mh_den_micro"))
          .as("sd"),
        sum(col("a")).as("sa"), sum(col("b")).as("sb"),
        sum(col("c")).as("sc"), sum(col("d")).as("sdd"))
        .select(
          round(col("sn").cast("double") / col("sd").cast("double"), 6)
            .as("or_mh"),
          round((col("sa") * col("sdd")).cast("double") /
            (col("sb") * col("sc")).cast("double"), 6).as("or_crude"))
      cells.crossJoin(broadcast(pooled))
        .select(col("event_type"), col("a"), col("b"), col("c"),
          col("d"),
          round((col("a") * col("d")).cast("double") /
            (col("b") * col("c")).cast("double"), 6).as("or_stratum"),
          col("or_mh"), col("or_crude"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH cells AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN user_id % 2 = 0 AND
                 CAST(ROUND(value * 100) AS BIGINT) % 5 = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN user_id % 2 = 0 AND
                 CAST(ROUND(value * 100) AS BIGINT) % 5 <> 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN user_id % 2 <> 0 AND
                 CAST(ROUND(value * 100) AS BIGINT) % 5 = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN user_id % 2 <> 0 AND
                 CAST(ROUND(value * 100) AS BIGINT) % 5 <> 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM events GROUP BY event_type),
      terms AS (
        SELECT *, a + b + c + d AS n,
               (a * d * 1000000) // (a + b + c + d) AS mh_num_micro,
               (b * c * 1000000) // (a + b + c + d) AS mh_den_micro
        FROM cells),
      pooled AS (
        SELECT
          ROUND(CAST(SUM(mh_num_micro) AS DOUBLE)
                / CAST(SUM(mh_den_micro) AS DOUBLE), 6) AS or_mh,
          ROUND(CAST(SUM(a) * SUM(d) AS DOUBLE)
                / CAST(SUM(b) * SUM(c) AS DOUBLE), 6) AS or_crude
        FROM terms)
      SELECT t.event_type, t.a, t.b, t.c, t.d,
             ROUND(CAST(t.a * t.d AS DOUBLE)
                   / CAST(t.b * t.c AS DOUBLE), 6) AS or_stratum,
             p.or_mh, p.or_crude
      FROM terms t CROSS JOIN pooled p
      ORDER BY t.event_type"""))

  /** Segmented regression (one-breakpoint piecewise OLS) — "WHEN did
    * the trend change": for each priority's monthly revenue series,
    * fit two least-squares lines split at every candidate month and
    * report the breakpoint minimizing total SSE, its two slopes, and
    * the variance explained vs the single unbroken fit — the
    * change-POINT analysis that complements [[qTsCusum]] (which
    * detects THAT a shift happened) with parameters (where, and what
    * the trend was on each side). No self-join: per-candidate left
    * stats are prefix sums (one group-partitioned window), right
    * stats are totals minus prefixes, so candidate evaluation is one
    * row per month. Moment sums are exact BIGINTs (integer month
    * index × integer monthly dollars); the SSE algebra runs in
    * doubles with an IDENTICAL op tree in both engines (the
    * [[qStatsRegression]] parity discipline — identical inputs +
    * identical IEEE ops = identical bits), candidates need ≥ 3
    * months per side, ties break on the earlier month.
    *
    * Scale shape: one (group, month) rollup, ONE group exchange
    * carrying prefix windows, per-group totals, and the argmin
    * ranking — bounded-frame work after the rollup. */
  val qStatsSegreg = Q(
    "q_stats_segreg",
    (s, dir) => {
      // bound guard (the qStatsGini discipline): y*y sums stay exact
      // BIGINT only while monthly KILOdollars < 2^24 — beyond, fail
      // loudly instead of wrapping silently (ADVICE r8 class)
      val yGuard = coalesce(expr(
        "assert_true(y >= 0 and y < 16777216, " +
          "'q_stats_segreg: monthly kilodollars exceed BIGINT-safe " +
          "moment bound (need y < 2^24)')").cast("long"), lit(0L))
      val monthly = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("g"),
          ((year(col("o_orderdate")) - 1992) * 12 +
            month(col("o_orderdate")) - 1).cast("long").as("x"))
        .agg(sum(round(col("o_totalprice") / 1000).cast("long")).as("y"))
        .select(col("g"), col("x"), (col("y") + yGuard).as("y"))
      val wPre = Window.partitionBy(col("g")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("g"))
      val cand = monthly
        .withColumn("pn", count(lit(1)).over(wPre))
        .withColumn("px", sum(col("x")).over(wPre))
        .withColumn("py", sum(col("y")).over(wPre))
        .withColumn("pxx", sum(col("x") * col("x")).over(wPre))
        .withColumn("pxy", sum(col("x") * col("y")).over(wPre))
        .withColumn("pyy", sum(col("y") * col("y")).over(wPre))
        .withColumn("tn", count(lit(1)).over(wAll))
        .withColumn("tx", sum(col("x")).over(wAll))
        .withColumn("ty", sum(col("y")).over(wAll))
        .withColumn("txx", sum(col("x") * col("x")).over(wAll))
        .withColumn("txy", sum(col("x") * col("y")).over(wAll))
        .withColumn("tyy", sum(col("y") * col("y")).over(wAll))
        .filter(col("pn") >= 3 && col("tn") - col("pn") >= 3)
      // identical double op tree both engines: sse(side) =
      // (syy - sy*sy/n) - (sxy - sx*sy/n)^2 / (sxx - sx*sx/n)
      def sse(n: String, sx: String, sy: String, sxx: String,
          sxy: String, syy: String) =
        s"""((CAST($syy AS DOUBLE) - CAST($sy AS DOUBLE) *
             CAST($sy AS DOUBLE) / CAST($n AS DOUBLE)) -
            (CAST($sxy AS DOUBLE) - CAST($sx AS DOUBLE) *
             CAST($sy AS DOUBLE) / CAST($n AS DOUBLE)) *
            (CAST($sxy AS DOUBLE) - CAST($sx AS DOUBLE) *
             CAST($sy AS DOUBLE) / CAST($n AS DOUBLE)) /
            (CAST($sxx AS DOUBLE) - CAST($sx AS DOUBLE) *
             CAST($sx AS DOUBLE) / CAST($n AS DOUBLE)))"""
      def slope(n: String, sx: String, sy: String, sxx: String,
          sxy: String) =
        s"""((CAST($sxy AS DOUBLE) - CAST($sx AS DOUBLE) *
             CAST($sy AS DOUBLE) / CAST($n AS DOUBLE)) /
            (CAST($sxx AS DOUBLE) - CAST($sx AS DOUBLE) *
             CAST($sx AS DOUBLE) / CAST($n AS DOUBLE)))"""
      val rn = "(tn - pn)"
      val rx = "(tx - px)"; val ry = "(ty - py)"
      val rxx = "(txx - pxx)"; val rxy = "(txy - pxy)"
      val ryy = "(tyy - pyy)"
      val scored = cand
        .withColumn("sse_total", expr(
          sse("pn", "px", "py", "pxx", "pxy", "pyy") + " + " +
            sse(rn, rx, ry, rxx, rxy, ryy)))
        .withColumn("sse_single", expr(
          sse("tn", "tx", "ty", "txx", "txy", "tyy")))
        .withColumn("slope_l", expr(
          slope("pn", "px", "py", "pxx", "pxy")))
        .withColumn("slope_r", expr(slope(rn, rx, ry, rxx, rxy)))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("g"))
            .orderBy(col("sse_total"), col("x"))))
      scored.filter(col("rk") === 1)
        .select(col("g").as("o_orderpriority"),
          col("x").as("break_month"),
          round(col("slope_l"), 4).as("slope_left"),
          round(col("slope_r"), 4).as("slope_right"),
          round(col("sse_total") / col("sse_single"), 6)
            .as("sse_ratio"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      WITH monthly AS (
        SELECT o_orderpriority AS g,
               CAST((year(o_orderdate) - 1992) * 12
                 + month(o_orderdate) - 1 AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(o_totalprice / 1000) AS BIGINT))
                 AS BIGINT) AS y
        FROM orders GROUP BY 1, 2),
      pre AS (
        SELECT g, x,
               CAST(COUNT(*) OVER wp AS BIGINT) AS pn,
               CAST(SUM(x) OVER wp AS BIGINT) AS px,
               CAST(SUM(y) OVER wp AS BIGINT) AS py,
               CAST(SUM(x * x) OVER wp AS BIGINT) AS pxx,
               CAST(SUM(x * y) OVER wp AS BIGINT) AS pxy,
               CAST(SUM(y * y) OVER wp AS BIGINT) AS pyy,
               CAST(COUNT(*) OVER wa AS BIGINT) AS tn,
               CAST(SUM(x) OVER wa AS BIGINT) AS tx,
               CAST(SUM(y) OVER wa AS BIGINT) AS ty,
               CAST(SUM(x * x) OVER wa AS BIGINT) AS txx,
               CAST(SUM(x * y) OVER wa AS BIGINT) AS txy,
               CAST(SUM(y * y) OVER wa AS BIGINT) AS tyy
        FROM monthly
        WINDOW wp AS (PARTITION BY g ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wa AS (PARTITION BY g)),
      scored AS (
        SELECT g, x,
          ((CAST(pyy AS DOUBLE) - CAST(py AS DOUBLE) *
              CAST(py AS DOUBLE) / CAST(pn AS DOUBLE)) -
           (CAST(pxy AS DOUBLE) - CAST(px AS DOUBLE) *
              CAST(py AS DOUBLE) / CAST(pn AS DOUBLE)) *
           (CAST(pxy AS DOUBLE) - CAST(px AS DOUBLE) *
              CAST(py AS DOUBLE) / CAST(pn AS DOUBLE)) /
           (CAST(pxx AS DOUBLE) - CAST(px AS DOUBLE) *
              CAST(px AS DOUBLE) / CAST(pn AS DOUBLE)))
          +
          ((CAST(tyy - pyy AS DOUBLE) - CAST(ty - py AS DOUBLE) *
              CAST(ty - py AS DOUBLE) / CAST(tn - pn AS DOUBLE)) -
           (CAST(txy - pxy AS DOUBLE) - CAST(tx - px AS DOUBLE) *
              CAST(ty - py AS DOUBLE) / CAST(tn - pn AS DOUBLE)) *
           (CAST(txy - pxy AS DOUBLE) - CAST(tx - px AS DOUBLE) *
              CAST(ty - py AS DOUBLE) / CAST(tn - pn AS DOUBLE)) /
           (CAST(txx - pxx AS DOUBLE) - CAST(tx - px AS DOUBLE) *
              CAST(tx - px AS DOUBLE) / CAST(tn - pn AS DOUBLE)))
            AS sse_total,
          ((CAST(tyy AS DOUBLE) - CAST(ty AS DOUBLE) *
              CAST(ty AS DOUBLE) / CAST(tn AS DOUBLE)) -
           (CAST(txy AS DOUBLE) - CAST(tx AS DOUBLE) *
              CAST(ty AS DOUBLE) / CAST(tn AS DOUBLE)) *
           (CAST(txy AS DOUBLE) - CAST(tx AS DOUBLE) *
              CAST(ty AS DOUBLE) / CAST(tn AS DOUBLE)) /
           (CAST(txx AS DOUBLE) - CAST(tx AS DOUBLE) *
              CAST(tx AS DOUBLE) / CAST(tn AS DOUBLE)))
            AS sse_single,
          ((CAST(pxy AS DOUBLE) - CAST(px AS DOUBLE) *
              CAST(py AS DOUBLE) / CAST(pn AS DOUBLE)) /
           (CAST(pxx AS DOUBLE) - CAST(px AS DOUBLE) *
              CAST(px AS DOUBLE) / CAST(pn AS DOUBLE))) AS slope_l,
          ((CAST(txy - pxy AS DOUBLE) - CAST(tx - px AS DOUBLE) *
              CAST(ty - py AS DOUBLE) / CAST(tn - pn AS DOUBLE)) /
           (CAST(txx - pxx AS DOUBLE) - CAST(tx - px AS DOUBLE) *
              CAST(tx - px AS DOUBLE) / CAST(tn - pn AS DOUBLE)))
            AS slope_r
        FROM pre WHERE pn >= 3 AND tn - pn >= 3),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY g
                 ORDER BY sse_total, x) AS rk
        FROM scored)
      SELECT g AS o_orderpriority, x AS break_month,
             ROUND(slope_l, 4) AS slope_left,
             ROUND(slope_r, 4) AS slope_right,
             ROUND(sse_total / sse_single, 6) AS sse_ratio
      FROM ranked WHERE rk = 1
      ORDER BY o_orderpriority"""))

  /** Wald–Wolfowitz runs test — is each priority's monthly revenue
    * series RANDOM around its median, or does it trend/oscillate?
    * Too few sign runs ⇒ persistence (trend, level shifts); too many
    * ⇒ anti-correlation (alternating). The nonparametric randomness
    * check that complements [[qTsAcf]] (parametric autocorrelation)
    * and [[qStatsSegreg]]/[[qTsCusum]] (which assume a change exists).
    * Everything is exact: the median is the lower order statistic
    * (rank ⌈n/2⌉ via a ranked window), ties with the median are
    * excluded (the standard rule), runs are a lag-window flag sum,
    * and the 5% significance decision is the normal test CROSS-
    * MULTIPLIED to integers — 10⁴(n−1)(n(R−1)−2n₁n₂)² >
    * 38416·2n₁n₂(2n₁n₂−n) — so the boolean is BIGINT-exact with no
    * sqrt; the readable z-score uses one IEEE sqrt (correctly
    * rounded, identical cross-engine, unlike log).
    *
    * Scale shape: one (group, month) rollup, ONE group exchange
    * carrying the median pick, the sign lag, and the run count —
    * bounded per-group frames throughout. */
  val qStatsRuns = Q(
    "q_stats_runs",
    (s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("g"),
          ((year(col("o_orderdate")) - 1992) * 12 +
            month(col("o_orderdate")) - 1).cast("long").as("x"))
        .agg(sum(round(col("o_totalprice") / 1000).cast("long"))
          .as("y"))
      val wRk = Window.partitionBy(col("g"))
        .orderBy(col("y"), col("x"))
      val wAll = Window.partitionBy(col("g"))
      val med = monthly
        .withColumn("rk", row_number().over(wRk).cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(col("rk") === expr("(n + 1) DIV 2"))
        .select(col("g"), col("y").as("med"))
      val wSeq = Window.partitionBy(col("g")).orderBy(col("x"))
      val signs = monthly.join(broadcast(med), Seq("g"))
        .filter(col("y") =!= col("med"))
        .withColumn("sgn", when(col("y") > col("med"), lit(1L))
          .otherwise(lit(-1L)))
        .withColumn("brk",
          when(lag(col("sgn"), 1).over(wSeq).isNull ||
            lag(col("sgn"), 1).over(wSeq) =!= col("sgn"), 1L)
            .otherwise(0L))
      signs.groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("sgn") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("sgn") === -1L, 1L).otherwise(0L)).as("n2"),
          sum(col("brk")).as("runs"))
        .select(col("g").as("o_orderpriority"), col("n"), col("n1"),
          col("n2"), col("runs"),
          round(lit(1.0) + (lit(2.0) * col("n1") * col("n2")).cast("double") /
            col("n").cast("double"), 4).as("expected_runs"),
          round((col("runs").cast("double") - (lit(1.0) +
            (lit(2.0) * col("n1") * col("n2")).cast("double") /
              col("n").cast("double"))) /
            sqrt((lit(2.0) * col("n1") * col("n2") *
              (lit(2L) * col("n1") * col("n2") - col("n"))).cast("double") /
              (col("n") * col("n") * (col("n") - 1)).cast("double")), 4)
            .as("z"),
          (expr("10000 * (n - 1) * (n * (runs - 1) - 2 * n1 * n2) * " +
            "(n * (runs - 1) - 2 * n1 * n2)") >
            expr("38416 * 2 * n1 * n2 * (2 * n1 * n2 - n)"))
            .as("significant"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      WITH monthly AS (
        SELECT o_orderpriority AS g,
               CAST((year(o_orderdate) - 1992) * 12
                 + month(o_orderdate) - 1 AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(o_totalprice / 1000) AS BIGINT))
                 AS BIGINT) AS y
        FROM orders GROUP BY 1, 2),
      med AS (
        SELECT g, y AS med FROM (
          SELECT g, y,
                 CAST(ROW_NUMBER() OVER (PARTITION BY g
                   ORDER BY y, x) AS BIGINT) AS rk,
                 COUNT(*) OVER (PARTITION BY g) AS n
          FROM monthly)
        WHERE rk = (n + 1) // 2),
      signs AS (
        SELECT m.g, m.x,
               CASE WHEN m.y > d.med THEN 1 ELSE -1 END AS sgn
        FROM monthly m JOIN med d USING (g)
        WHERE m.y <> d.med),
      flagged AS (
        SELECT g, sgn,
               CASE WHEN LAG(sgn) OVER w IS NULL
                      OR LAG(sgn) OVER w <> sgn THEN 1 ELSE 0 END
                 AS brk
        FROM signs WINDOW w AS (PARTITION BY g ORDER BY x)),
      agg AS (
        SELECT g, COUNT(*) AS n,
               CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n2,
               CAST(SUM(brk) AS BIGINT) AS runs
        FROM flagged GROUP BY g)
      SELECT g AS o_orderpriority, n, n1, n2, runs,
             ROUND(1.0 + CAST(2.0 * n1 * n2 AS DOUBLE)
               / CAST(n AS DOUBLE), 4) AS expected_runs,
             ROUND((CAST(runs AS DOUBLE) - (1.0 +
                 CAST(2.0 * n1 * n2 AS DOUBLE) / CAST(n AS DOUBLE)))
               / SQRT(CAST(2.0 * n1 * n2 * (2 * n1 * n2 - n)
                   AS DOUBLE)
                 / CAST(n * n * (n - 1) AS DOUBLE)), 4) AS z,
             10000 * (n - 1) * (n * (runs - 1) - 2 * n1 * n2)
               * (n * (runs - 1) - 2 * n1 * n2)
               > 38416 * 2 * n1 * n2 * (2 * n1 * n2 - n)
               AS significant
      FROM agg ORDER BY o_orderpriority"""))

  /** Inverse-propensity-weighted adjusted difference — the
    * continuous-outcome sibling of [[qStatsMh]] (which pools binary
    * odds): when arm assignment is imbalanced ACROSS strata, the
    * crude treatment−control mean difference confounds stratum mix
    * with the effect; IPW reweights each stratum's arms to the
    * stratum's size (the stratified estimator: Σₖ nₖ·(ȳₜₖ − ȳ꜀ₖ)/N)
    * and reports it next to the crude difference. Per-stratum means
    * are micro-floored exact integers ((Σy·10⁶) DIV n — the
    * documented convention), the stratum weighting is BIGINT, and
    * the two output differences each divide once. Strata = event
    * types, arm = user parity, outcome = cents.
    *
    * Scale shape: ONE (stratum, arm) rollup (10 rows), bounded-frame
    * algebra, the one-row total scalar on a broadcast cross join. */
  val qStatsIpw = Q(
    "q_stats_ipw",
    (s, dir) => {
      val cells = t(s, dir, "events")
        .groupBy(col("event_type"),
          (col("user_id") % 2 === 0).as("treated"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sy"))
        .withColumn("mean_micro", expr("(sy * 1000000) DIV n"))
      val strata = cells.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_stratum"),
          max(when(col("treated"), col("mean_micro"))).as("mt"),
          max(when(!col("treated"), col("mean_micro"))).as("mc"),
          max(when(col("treated"), col("n"))).as("nt"),
          max(when(!col("treated"), col("n"))).as("nc"))
      val tot = strata.agg(sum(col("n_stratum")).as("nn"),
        sum(col("n_stratum") * (col("mt") - col("mc"))).as("wdiff"),
        sum(col("nt") * col("mt")).as("syt"), sum(col("nt")).as("snt"),
        sum(col("nc") * col("mc")).as("syc"), sum(col("nc")).as("snc"))
      strata.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n_stratum"), col("nt"),
          col("nc"), col("mt"), col("mc"),
          round(col("wdiff").cast("double") / col("nn").cast("double")
            / 1000000.0, 6).as("ate_ipw"),
          round((col("syt").cast("double") / col("snt").cast("double")
            - col("syc").cast("double") / col("snc").cast("double"))
            / 1000000.0, 6).as("diff_crude"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH cells AS (
        SELECT event_type, user_id % 2 = 0 AS treated,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                 AS BIGINT) AS sy
        FROM events GROUP BY 1, 2),
      m AS (
        SELECT event_type, treated, n,
               (sy * 1000000) // n AS mean_micro
        FROM cells),
      strata AS (
        SELECT event_type,
               CAST(SUM(n) AS BIGINT) AS n_stratum,
               MAX(CASE WHEN treated THEN mean_micro END) AS mt,
               MAX(CASE WHEN NOT treated THEN mean_micro END) AS mc,
               MAX(CASE WHEN treated THEN n END) AS nt,
               MAX(CASE WHEN NOT treated THEN n END) AS nc
        FROM m GROUP BY event_type),
      tot AS (
        SELECT CAST(SUM(n_stratum) AS BIGINT) AS nn,
               CAST(SUM(n_stratum * (mt - mc)) AS BIGINT) AS wdiff,
               CAST(SUM(nt * mt) AS BIGINT) AS syt,
               CAST(SUM(nt) AS BIGINT) AS snt,
               CAST(SUM(nc * mc) AS BIGINT) AS syc,
               CAST(SUM(nc) AS BIGINT) AS snc
        FROM strata)
      SELECT s.event_type, s.n_stratum, s.nt, s.nc, s.mt, s.mc,
             ROUND(CAST(t.wdiff AS DOUBLE) / CAST(t.nn AS DOUBLE)
               / 1000000.0, 6) AS ate_ipw,
             ROUND((CAST(t.syt AS DOUBLE) / CAST(t.snt AS DOUBLE)
               - CAST(t.syc AS DOUBLE) / CAST(t.snc AS DOUBLE))
               / 1000000.0, 6) AS diff_crude
      FROM strata s CROSS JOIN tot t
      ORDER BY s.event_type"""))


  /** Registry consumed by RelationalQueries.all: this file's own
    * members plus the rank/robust split ([[RankStatsQueries]]). */
  val all: Seq[Q] = Seq(qStatsProfile, qStatsBenford, qStatsAbtest, qStatsRegression, qStatsCorr, qStatsSkew, qStatsKappa, qStatsBootstrap, qStatsLevene, qStatsIntegrity, qStatsDispersion, qStatsAnova, qStatsSprt, qStatsIsotonic, qStatsVoptHist, qStatsMh, qStatsSegreg, qStatsRuns, qStatsIpw) ++ RankStatsQueries.all
}
