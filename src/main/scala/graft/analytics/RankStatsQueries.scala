package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Rank / robust / order-statistics family split out of StatsQueries
  * in round 10 (file-size rebalance): the midrank, distributed-rank,
  * and radix-order-statistic machinery consumers. Same registry
  * contract; `all` concatenates into RelationalQueries.all via
  * StatsQueries, so the surface and count pin are unchanged. */
object RankStatsQueries {
  import RelationalQueries.{Q, t}

  /** Spearman rank correlation per return flag — the robust dual of
    * [[qStatsCorr]]: Pearson's r computed on the RANKS of quantity
    * and extended price, so monotone-but-nonlinear association still
    * registers and outliers can't dominate. Ties take the min-rank
    * (`rank()` — identical semantics both engines; the average-rank
    * variant would need fractional ranks and a float surface). The
    * rank frames are BIGINT, so the sufficient statistics reuse the
    * Pearson discipline verbatim: exact BIGINT/DECIMAL sums, ONE
    * double combination with an identical op tree, round 6.
    *
    * Scale shape: no `l_returnflag`-partitioned rank window over raw
    * lineitem rows (the round-9 plan-audit finding: a 3-reducer
    * funnel at 100× scale). Quantity's domain is bounded by the
    * generator (~50 distinct values), so its min-ranks fall out of
    * the tiny (g, x)-count frame via a bounded broadcast theta join —
    * no sort anywhere. Price min-ranks ride
    * [[graft.operators.OrderStatistics.groupRowRanks]] — the
    * range-partitioned distributed rank (TeraSort shape, spreads
    * over ALL partitions) — CARRYING x as the payload, so pairing
    * (rx, ry) per row needs only a broadcast of the tiny x-rank
    * table, never a corpus-scale join-back. One map-side-combined
    * aggregate finishes. */
  val qStatsSpearman = Q(
    "q_stats_spearman",
    (s, dir) => {
      val m = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
        expr("cast(round(l_quantity * 100) as bigint)").as("x"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("y"))
      val gx = m.groupBy(col("g"), col("x")).agg(count(lit(1)).as("c"))
      val rxT = gx.as("a")
        .join(broadcast(gx.as("b")),
          col("a.g") === col("b.g") && col("b.x") < col("a.x"), "left")
        .groupBy(col("a.g"), col("a.x"))
        .agg((coalesce(sum(col("b.c")), lit(0L)) + lit(1L)).as("rx"))
        .select(col("a.g").as("g"), col("a.x").as("x"), col("rx"))
      val ranked = graft.operators.OrderStatistics
        .groupRowRanks(m.select(col("g"), col("y").as("v"),
          col("x").as("p")), minRank = true)
        .select(col("g"), col("p").cast("long").as("x"),
          col("rk").as("ry"))
        .join(broadcast(rxT), Seq("g", "x"))
        .select(col("g"), col("rx"), col("ry"))
      val sums = ranked.groupBy(col("g")).agg(
        count(lit(1)).as("n"),
        sum(expr("cast(rx as decimal(25,0))")).as("sx"),
        sum(expr("cast(ry as decimal(25,0))")).as("sy"),
        // cast ONE FACTOR before multiplying: `rx * rx` evaluates in
        // BIGINT first and wraps silently past 2^63 (rank products
        // cross that at ~3e9 rows/group — the same seam qEventsBots
        // hit in round 9); DECIMAL(25,0)×BIGINT promotes the product
        sum(expr("cast(rx as decimal(25,0)) * rx")).as("sxx"),
        sum(expr("cast(ry as decimal(25,0)) * ry")).as("syy"),
        sum(expr("cast(rx as decimal(25,0)) * ry")).as("sxy"))
      sums.select(col("g").as("l_returnflag"), col("n"),
          round((col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
            .as("spearman_qty_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      WITH m AS (
        SELECT l_returnflag AS g,
               CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem),
      ranked AS (
        SELECT g,
               CAST(RANK() OVER (PARTITION BY g ORDER BY x) AS BIGINT)
                 AS rx,
               CAST(RANK() OVER (PARTITION BY g ORDER BY y) AS BIGINT)
                 AS ry
        FROM m),
      sums AS (
        SELECT g, COUNT(*) AS n,
               CAST(SUM(CAST(rx AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS sx,
               CAST(SUM(CAST(ry AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS sy,
               CAST(SUM(CAST(rx AS DECIMAL(25,0)) * rx) AS DECIMAL(25,0))
                 AS sxx,
               CAST(SUM(CAST(ry AS DECIMAL(25,0)) * ry) AS DECIMAL(25,0))
                 AS syy,
               CAST(SUM(CAST(rx AS DECIMAL(25,0)) * ry) AS DECIMAL(25,0))
                 AS sxy
        FROM ranked GROUP BY g)
      SELECT g AS l_returnflag, n,
             ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                   6) AS spearman_qty_price
      FROM sums ORDER BY l_returnflag"""))

  /** Weighted median per group — the order statistic where each row
    * counts with its weight (here: price median weighted by quantity,
    * i.e. "the price of the median UNIT shipped", not the median
    * line): sort by value within the group, accumulate weight, take
    * the first value whose running weight reaches half the total
    * (weighted lower median — `2·cumw ≥ totw`, all BIGINT). The
    * estimator quantity-weighted pricing and importance-weighted
    * corpus statistics both need; reduces to the plain median when
    * every weight is 1.
    *
    * Scale shape: the weighted order statistic rides
    * [[graft.operators.OrderStatistics.radixWeightedLowerMedian]] —
    * the two-pass radix-histogram core (per-group bucket WEIGHT
    * totals, then an exact walk inside the one crossing bucket), the
    * same [[qStatsMad]] cost class and the reason no ranked window
    * ever sees a raw fact row (a `l_returnflag`-partitioned running
    * sum would funnel the table into 3 reducers — the round-10
    * `low-card-ordered-window` lint). The oracle keeps the window
    * form, so the gate certifies histogram ≡ running-weight. */
  val qStatsWmedian = Q(
    "q_stats_wmedian",
    (s, dir) => {
      // weighted median via the two-pass radix core — a returnflag-
      // partitioned running-weight window over raw rows is the
      // round-10 lint's low-card funnel (2·cumw ≥ W ⟺ cumw reaches
      // ⌈(W+1)/2⌉, the core's crossing rule; sub-value ordering
      // cannot change which VALUE first crosses)
      val m = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("c"),
        expr("cast(round(l_quantity * 100) as bigint)").as("w"))
      val med = graft.operators.OrderStatistics
        .radixWeightedLowerMedian(m)
      val n = m.groupBy(col("g")).agg(count(lit(1)).as("n"))
      med.join(broadcast(n), Seq("g"))
        .select(col("g").as("l_returnflag"), col("n"),
          col("totw").as("total_weight"),
          col("med").as("wmedian_cents"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      WITH m AS (
        SELECT l_returnflag AS g,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
               CAST(ROUND(l_quantity * 100) AS BIGINT) AS w
        FROM lineitem),
      tot AS (
        SELECT g, CAST(SUM(w) AS BIGINT) AS totw, COUNT(*) AS n
        FROM m GROUP BY g),
      c AS (
        SELECT g, v, w,
               CAST(SUM(w) OVER (PARTITION BY g ORDER BY v, w
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cumw
        FROM m)
      SELECT c.g AS l_returnflag, MAX(t.n) AS n,
             CAST(MAX(t.totw) AS BIGINT) AS total_weight,
             CAST(MIN(c.v) AS BIGINT) AS wmedian_cents
      FROM c JOIN tot t USING (g)
      WHERE c.cumw * 2 >= t.totw
      GROUP BY c.g ORDER BY c.g"""))

  /** Robust location/scale statistics: per return flag, the exact
    * lower-median and MAD (median absolute deviation) of the
    * cent-scaled extended price, plus the count of 3-MAD outliers —
    * the robust outlier screen that survives the heavy tails that
    * wreck mean/stddev fences. All arithmetic is BIGINT order
    * statistics (rank (n+1)÷2 under integer division = the lower
    * median — exact, no interpolation, no float), so every cell is
    * hash-stable by construction.
    *
    * Scale shape: both EXACT medians ride
    * [[graft.operators.OrderStatistics.radixLowerMedian]] — the
    * two-pass radix-histogram core (bucket counts per group, then an
    * exact walk inside the one crossing bucket), so no ranked window
    * ever sees a raw fact row: a `l_returnflag`-partitioned rank
    * would funnel the whole table into 3 reducers at 100× scale
    * (the round-9 plan-audit finding; the pre-fix window plan is the
    * small-data convenience, not a necessity). The 3-row median/MAD
    * tables broadcast back; the approximate path for when 1e-2
    * relative error is acceptable is [[qQuantileSketch]]'s GK
    * sketch. */
  val qStatsMad = Q(
    "q_stats_mad",
    (s, dir) => {
      val x = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("x"))
      val med = graft.operators.OrderStatistics
        .radixLowerMedian(x.select(col("g"), col("x").as("c")))
        .select(col("g"), col("med"))
      // dev is consumed twice (the MAD radix passes AND the outlier
      // aggregate) but deliberately NOT persisted: it is one
      // narrow projection over the scan + a 3-row broadcast join —
      // recomputing it is cheaper than materializing N rows.
      val dev = x.join(broadcast(med), "g")
        .select(col("g"), col("x"), col("med"),
          abs(col("x") - col("med")).as("adev"))
      val mad = graft.operators.OrderStatistics
        .radixLowerMedian(dev.select(col("g"), col("adev").as("c")))
        .select(col("g"), col("med").as("mad"))
      dev.join(broadcast(mad), "g")
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          max(col("med")).as("median_cents"),
          max(col("mad")).as("mad_cents"),
          sum(when(col("adev") > lit(3L) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .select(col("g").as("l_returnflag"), col("n"),
          col("median_cents"), col("mad_cents"), col("n_outliers"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      WITH x AS (
        SELECT l_returnflag AS g,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x
        FROM lineitem),
      medr AS (
        SELECT g, x,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
               COUNT(*) OVER (PARTITION BY g) AS cnt
        FROM x),
      med AS (SELECT g, x AS med FROM medr WHERE rn = (cnt + 1) // 2),
      dev AS (
        SELECT x.g, x.x, med.med, ABS(x.x - med.med) AS adev
        FROM x JOIN med USING (g)),
      madr AS (
        SELECT g, adev,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY adev) AS rn,
               COUNT(*) OVER (PARTITION BY g) AS cnt
        FROM dev),
      mad AS (SELECT g, adev AS mad FROM madr WHERE rn = (cnt + 1) // 2)
      SELECT dev.g AS l_returnflag, COUNT(*) AS n,
             CAST(MAX(dev.med) AS BIGINT) AS median_cents,
             CAST(MAX(mad.mad) AS BIGINT) AS mad_cents,
             CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers
      FROM dev JOIN mad USING (g)
      GROUP BY dev.g ORDER BY dev.g"""))

  /** Exact Gini coefficient of the join-key row distribution — the
    * single-number inequality companion to [[qStatsSkew]]'s report
    * (0 = uniform keys, →1 = one key owns everything). Needs every
    * key's RANK under the (count, key) total order; instead of a
    * partition-less global sort window, the rank comes from
    * [[countByRank]] over the composite value count·2⁴² + key (order-
    * isomorphic to the pair while keys < 2⁴² — true at every fixture
    * SF and any realistic key space) — the same distributed order
    * statistic the interval join uses, reused verbatim. Ties in count
    * commute in Σ rank·cᵢ, so the key tie-break changes nothing in
    * the statistic. All sums stay exact BIGINTs below 2⁵³; the one
    * division is DOUBLE with an identical op tree cross-engine. */
  val qStatsGini = Q(
    "q_stats_gini",
    (s, dir) => {
      val counts = t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("c"))
      // Bound guard (ADVICE r8): the composite encoding is order-
      // isomorphic only while c < 2^13 and key < 2^42 — beyond that
      // the rank mis-sorts or the bucket arithmetic wraps, silently.
      // Fail LOUDLY in-plan (no extra pass): assert_true evaluates per
      // KEY row inside codegen and contributes exactly 0 in bounds.
      val guard = coalesce(expr(
        "assert_true(c < 8192 and l_partkey < 4398046511104, " +
          "'q_stats_gini: composite-encoding bounds exceeded " +
          "(need per-key count < 2^13 and key < 2^42)')").cast("long"),
        lit(0L))
      val enc = col("c") * lit(4398046511104L) + col("l_partkey") + guard
      val ranked = countByRank(
        counts.select(enc.as("v")),
        counts.select(col("l_partkey").as("user_id"),
          col("c").as("session_idx"), enc.as("q")),
        inclusive = false)
        .select(col("session_idx").as("c"), (col("cnt") + 1L).as("r"))
      ranked.agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(col("r") * col("c")).as("src"))
        .select(col("n").as("n_keys"),
          round((lit(2L) * col("src") - (col("n") + 1L) * col("sc"))
            .cast("double") /
            (col("n") * col("sc")).cast("double"), 6).as("gini"))
    },
    Some("""
      WITH counts AS (
        SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY l_partkey),
      ranked AS (
        SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c, l_partkey) AS BIGINT)
                 AS r
        FROM counts),
      agg AS (
        SELECT COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS sc,
               CAST(SUM(r * c) AS BIGINT) AS src
        FROM ranked)
      SELECT n AS n_keys,
             ROUND(CAST(2 * src - (n + 1) * sc AS DOUBLE)
                   / CAST(n * sc AS DOUBLE), 6) AS gini
      FROM agg"""))

  /** Distributed order statistic — forwarder to the factored-out
    * [[graft.operators.OrderStatistics.countByRank]] (round-9: the
    * core is shared with arbitrary-bucket-width interval joins; this
    * file's two callers keep the 256-bucket default). */
  private[analytics] def countByRank(points: DataFrame, queries: DataFrame,
      inclusive: Boolean): DataFrame =
    graft.operators.OrderStatistics.countByRank(points, queries, inclusive)

  /** Exact two-sample Kolmogorov–Smirnov statistic between the 'view'
    * and 'click' purchase-value distributions — the distribution-drift
    * test a feature store runs between cohorts. D = max over pooled
    * sample points of |F₁(x) − F₂(x)|; the textbook computation is a
    * GLOBAL sort + running ECDFs (a partition-less window — the exact
    * shape PlanAudit rejects). Here both cumulative counts come from
    * [[graft.operators.OrderStatistics.countByRank]] — range-bucket,
    * one bucket-keyed exchange, per-partition sorted scan, bounded
    * bucket-prefix theta join — evaluated at every pooled distinct
    * value, so the ECDFs distribute O(N log N) with no global sort.
    * The statistic stays in exact integers to the end
    * (|cum₁·n₂ − cum₂·n₁| over the common denominator n₁·n₂), divides
    * once in double, rounds at 6; the argmax location is tie-broken
    * to the smallest value attaining the max. */
  val qStatsKs = Q(
    "q_stats_ks",
    (s, dir) => {
      val v = t(s, dir, "events")
        .filter(col("event_type").isin("view", "click"))
        .select(col("event_type"),
          expr("cast(round(value * 1000000) as bigint)").as("x"))
      val q = v.select(col("x")).distinct()
        .select(col("x").as("user_id"), lit(0L).as("session_idx"),
          col("x").as("q"))
      val cum1 = countByRank(
        v.filter(col("event_type") === "view").select(col("x").as("v")),
        q, inclusive = true)
        .select(col("user_id").as("x"), col("cnt").as("cum1"))
      val cum2 = countByRank(
        v.filter(col("event_type") === "click").select(col("x").as("v")),
        q, inclusive = true)
        .select(col("user_id").as("x"), col("cnt").as("cum2"))
      val ns = v.agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n1"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n2"))
      // persisted: d feeds both the max and the argmax — unpersisted,
      // BOTH countByRank pipelines run twice (review finding)
      val d = cum1.join(cum2, Seq("x")).crossJoin(broadcast(ns))
        .select(col("x"),
          abs(col("cum1") * col("n2") - col("cum2") * col("n1")).as("diff"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val m = d.agg(max(col("diff")).as("md"))
      val arg = d.crossJoin(broadcast(m))
        .filter(col("diff") === col("md"))
        .agg(min(col("x")).as("at_micros"))
      QueryScopedCache.releaseAfter(
        ns.crossJoin(m).crossJoin(arg)
          .select(col("n1"), col("n2"),
            round(col("md").cast("double") /
              (col("n1") * col("n2")).cast("double"), 6).as("ks_d"),
            col("at_micros")),
        Seq(d))
    },
    Some("""
      WITH v AS (
        SELECT event_type, CAST(ROUND(value * 1000000) AS BIGINT) AS x
        FROM events WHERE event_type IN ('view', 'click')),
      d AS (
        SELECT x,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS c2
        FROM v GROUP BY x),
      c AS (
        SELECT x, CAST(SUM(c1) OVER (ORDER BY x) AS BIGINT) AS cum1,
               CAST(SUM(c2) OVER (ORDER BY x) AS BIGINT) AS cum2
        FROM d),
      n AS (SELECT
              CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n1,
              CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n2
            FROM v),
      dd AS (SELECT x, ABS(cum1 * n2 - cum2 * n1) AS diff
             FROM c CROSS JOIN n),
      m AS (SELECT MAX(diff) AS md FROM dd),
      arg AS (SELECT MIN(x) AS at_micros FROM dd CROSS JOIN m
              WHERE diff = md)
      SELECT n1, n2,
             ROUND(CAST(md AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 6) AS ks_d,
             at_micros
      FROM n CROSS JOIN m CROSS JOIN arg"""))

  /** Mann–Whitney U rank screen, one-vs-rest per event type over the
    * event `value` column: does this type's value distribution sit
    * systematically above or below everything else? The nonparametric
    * A/B cousin of [[qStatsAbtest]] (no normality assumption — pure
    * rank statistics), and the standard robust screen for "does
    * segment X behave differently" before any model sees the data.
    *
    * One-vs-rest means the pooled sample IS the whole column, so ONE
    * global midrank table serves every group — and the global ranking
    * needs no partition-less window: distinct values are counted once
    * (`2·midrank(v) = 2·#{<v} + #{=v} + 1`, an exact integer) with
    * `#{<v}` from [[graft.operators.OrderStatistics.countByRank]] —
    * the bucketed two-level prefix scan, one hash exchange, no global
    * sort. U stays integer (doubled: `U2 = Σ 2·midrank − n_g(n_g+1)`)
    * and is gated exactly; only the final tie-corrected z-score is a
    * rounded double (both engines evaluate the identical IEEE
    * expression over the same BIGINT inputs). Rank sums accumulate in
    * DECIMAL(25,0) — at corpus scale Σ2·midrank reaches 2N² long
    * before BIGINT wraps ([[qStatsSpearman]] discipline).
    *
    * Scale shape: one exchange to count value multiplicities, one
    * bucketed countByRank pass, a value-keyed join back (values are
    * near-unique — no skew), one group aggregation; the one-row
    * (N, tie-term) scalar rides a broadcast cross join. */
  val qStatsMannWhitney = Q(
    "q_stats_mannwhitney",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("v"))
      val vals = ev.groupBy(col("v")).agg(count(lit(1)).as("c"))
      val lt = graft.operators.OrderStatistics.countByRank(
          ev.select(col("v")),
          vals.select(col("v").as("user_id"), lit(0L).as("session_idx"),
            col("v").as("q")),
          inclusive = false)
        .select(col("user_id").as("v"), col("cnt").as("n_lt"))
      val mid = vals.join(lt, Seq("v"))
        .select(col("v"),
          (lit(2) * col("n_lt") + col("c") + lit(1)).as("mr2"))
      val tot = vals.agg(sum(col("c")).as("nn"),
        sum(expr("cast(c as decimal(25,0)) * c * c - c")).as("tie_t"))
      ev.join(mid, Seq("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_g"),
          sum(expr("cast(mr2 as decimal(25,0))")).as("r2"))
        .crossJoin(broadcast(tot))
        .withColumn("u2",
          col("r2").cast("long") - col("n_g") * (col("n_g") + 1))
        .withColumn("nb", col("nn") - col("n_g"))
        .select(col("event_type"), col("n_g"), col("u2"),
          round((col("u2") - col("n_g") * col("nb")).cast("double") /
            (lit(2.0) * sqrt(
              (col("n_g") * col("nb")).cast("double") / lit(12.0) *
              ((col("nn") + 1).cast("double") -
                col("tie_t").cast("double") /
                (col("nn") * (col("nn") - 1)).cast("double")))), 6)
            .as("z"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events),
      vals AS (SELECT v, COUNT(*) AS c FROM ev GROUP BY v),
      cum AS (
        SELECT v, c,
               COALESCE(CAST(SUM(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) AS n_lt
        FROM vals),
      mid AS (SELECT v, 2 * n_lt + c + 1 AS mr2 FROM cum),
      tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS nn,
               SUM(CAST(c AS DECIMAL(25,0)) * c * c - c) AS tie_t
        FROM vals),
      grp AS (
        SELECT e.event_type, COUNT(*) AS n_g,
               SUM(CAST(m.mr2 AS DECIMAL(25,0))) AS r2
        FROM ev e JOIN mid m USING (v) GROUP BY 1),
      fin AS (
        SELECT g.event_type, g.n_g,
               CAST(g.r2 AS BIGINT) - g.n_g * (g.n_g + 1) AS u2,
               t.nn - g.n_g AS nb, t.nn AS nn, t.tie_t AS tie_t
        FROM grp g CROSS JOIN tot t)
      SELECT event_type, n_g, u2,
             ROUND(CAST(u2 - n_g * nb AS DOUBLE) /
                   (2.0 * SQRT(CAST(n_g * nb AS DOUBLE) / 12.0 *
                     (CAST(nn + 1 AS DOUBLE) -
                      CAST(tie_t AS DOUBLE) /
                      CAST(nn * (nn - 1) AS DOUBLE)))), 6) AS z
      FROM fin ORDER BY event_type"""))

  /** Kruskal–Wallis omnibus rank test across ALL event types over the
    * event `value` column — the k-group generalization of
    * [[qStatsMannWhitney]]: are the k per-type value distributions
    * drawn from one population, or does at least one sit apart? The
    * screen that decides whether any per-segment analysis is worth
    * running at all, before k·(k−1)/2 pairwise U tests.
    *
    * Reuses the Mann–Whitney midrank machinery verbatim: ONE global
    * midrank table (doubled midranks stay integer; `#{<v}` from
    * [[graft.operators.OrderStatistics.countByRank]] — no
    * partition-less window), per-group doubled rank sums R2_g
    * accumulate in DECIMAL(25,0) and gate exactly. With R_g = R2_g/2,
    *   H = 12/(N(N+1)) Σ R_g²/n_g − 3(N+1)
    *     = 3/(N(N+1)) Σ R2_g²/n_g − 3(N+1),
    * and the tie-corrected H' = H / (1 − Σ(c³−c)/(N³−N)). The
    * per-group term R2_g²/n_g is the one division — rounded to 3
    * decimals then DECIMAL-summed ([[qTextLogprob]] discipline), so
    * the cross-group reduction is order-independent in both engines;
    * H/H' are single rounded IEEE expressions over gated inputs.
    *
    * Scale shape: identical to Mann–Whitney — one value-multiplicity
    * exchange, one bucketed countByRank pass, a value-keyed join
    * back, one k-row group aggregate; the k-row statistic reduction
    * and the one-row (N, tie) scalar are broadcast-sized. */
  val qStatsKruskal = Q(
    "q_stats_kruskal",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("v"))
      val vals = ev.groupBy(col("v")).agg(count(lit(1)).as("c"))
      val lt = graft.operators.OrderStatistics.countByRank(
          ev.select(col("v")),
          vals.select(col("v").as("user_id"), lit(0L).as("session_idx"),
            col("v").as("q")),
          inclusive = false)
        .select(col("user_id").as("v"), col("cnt").as("n_lt"))
      val mid = vals.join(lt, Seq("v"))
        .select(col("v"),
          (lit(2) * col("n_lt") + col("c") + lit(1)).as("mr2"))
      val tot = vals.agg(sum(col("c")).as("nn"),
        sum(expr("cast(c as decimal(25,0)) * c * c - c")).as("tie_t"))
      // grp is consumed twice (the k-row scalar AND the output rows);
      // persist the k-row result so the corpus-scale midrank join
      // runs once, released by the first action on the result.
      val grp = ev.join(mid, Seq("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_g"),
          sum(expr("cast(mr2 as decimal(25,0))")).as("r2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sAgg = grp.agg(count(lit(1)).as("k"),
        sum(expr("""cast(round(cast(r2 as double) * cast(r2 as double)
                    / n_g, 3) as decimal(25,3))""")).as("s"))
      val out = grp.select(col("event_type"), col("n_g"),
          col("r2").cast("long").as("r2"))
        .crossJoin(broadcast(sAgg.crossJoin(tot)
          .select(col("k"),
            round(lit(3.0) * col("s").cast("double") /
              (col("nn") * (col("nn") + 1)).cast("double") -
              lit(3.0) * (col("nn") + 1).cast("double"), 6).as("h"),
            round((lit(3.0) * col("s").cast("double") /
              (col("nn") * (col("nn") + 1)).cast("double") -
              lit(3.0) * (col("nn") + 1).cast("double")) /
              (lit(1.0) - col("tie_t").cast("double") /
                (col("nn").cast("decimal(25,0)") * col("nn") * col("nn")
                  - col("nn")).cast("double")), 6).as("h_corr"))))
        .select(col("event_type"), col("n_g"), col("r2"), col("k"),
          col("h"), col("h_corr"))
        .orderBy(col("event_type"))
      QueryScopedCache.releaseAfter(out, Seq(grp))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events),
      vals AS (SELECT v, COUNT(*) AS c FROM ev GROUP BY v),
      cum AS (
        SELECT v, c,
               COALESCE(CAST(SUM(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) AS n_lt
        FROM vals),
      mid AS (SELECT v, 2 * n_lt + c + 1 AS mr2 FROM cum),
      tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS nn,
               SUM(CAST(c AS DECIMAL(25,0)) * c * c - c) AS tie_t
        FROM vals),
      grp AS (
        SELECT e.event_type, COUNT(*) AS n_g,
               SUM(CAST(m.mr2 AS DECIMAL(25,0))) AS r2
        FROM ev e JOIN mid m USING (v) GROUP BY 1),
      sagg AS (
        SELECT COUNT(*) AS k,
               SUM(CAST(ROUND(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                   / n_g, 3) AS DECIMAL(25,3))) AS s
        FROM grp),
      fin AS (
        SELECT a.k,
               ROUND(3.0 * CAST(a.s AS DOUBLE) /
                 CAST(t.nn * (t.nn + 1) AS DOUBLE) -
                 3.0 * CAST(t.nn + 1 AS DOUBLE), 6) AS h,
               ROUND((3.0 * CAST(a.s AS DOUBLE) /
                 CAST(t.nn * (t.nn + 1) AS DOUBLE) -
                 3.0 * CAST(t.nn + 1 AS DOUBLE)) /
                 (1.0 - CAST(t.tie_t AS DOUBLE) /
                   CAST(CAST(t.nn AS DECIMAL(25,0)) * t.nn * t.nn - t.nn
                     AS DOUBLE)), 6) AS h_corr
        FROM sagg a CROSS JOIN tot t)
      SELECT g.event_type, g.n_g, CAST(g.r2 AS BIGINT) AS r2,
             f.k, f.h, f.h_corr
      FROM grp g CROSS JOIN fin f
      ORDER BY g.event_type"""))

  /** Kendall τ-b rank correlation between event value and hour of day
    * — the fully tie-corrected concordance statistic ("do higher
    * values land later in the day?"), the third rank-correlation
    * family member after [[qStatsSpearman]] (midranks) and
    * [[qStatsMannWhitney]] (two-sample U): τ-b is the one that stays
    * honest under massive ties, which a 24-valued hour column
    * guarantees.
    *
    * Pair-free decomposition: aggregate to (x, y, c) cells, then count
    * concordant/discordant PAIRS through per-y strict prefix counts
    * F_y(x−) = #{points: y'' = y, x'' < x} — each pair counted once at
    * its higher-x cell: C = Σ_cell c · Σ_{y'<y} F_{y'}(x−), D likewise
    * over y' > y. F comes from ONE weighted
    * [[graft.operators.OrderStatistics.prefixSumByRank]] pass over the
    * composite key y·2⁴² + x (the [[qStatsGini]] encoding; x < 2⁴²
    * asserted by the value domain, hour < 2⁶) minus the 24-row
    * cumulative-y marginal — O(N log N), no pair join, no window
    * anywhere on the Spark side. Products cast to DECIMAL(25,0)
    * BEFORE multiplying ([[qStatsRegression]] overflow discipline);
    * C, D, and both doubled tie terms gate as exact integers; τ-b is
    * one rounded IEEE expression over them.
    *
    * Scale shape: one cell exchange, one bucketed prefix pass, a
    * 24-way bounded fan-out join back on x, and three one-row/24-row
    * broadcast marginals. The event stream crosses the wire once. */
  val qStatsKendall = Q(
    "q_stats_kendall",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val K = lit(1L << 42)
      val ev = t(s, dir, "events").select(
        expr("cast(round(value * 100) as bigint)").as("x"),
        hour(col("ts")).cast("long").as("y"))
      val cells = ev.groupBy(col("x"), col("y"))
        .agg(count(lit(1)).as("c"))
        .persist(MEMORY_AND_DISK)
      val mx = cells.groupBy(col("x")).agg(sum(col("c")).as("cx"))
      val my = cells.groupBy(col("y")).agg(sum(col("c")).as("cy"))
      val cumy = my.as("a")
        .join(broadcast(my.as("b")), col("b.y") < col("a.y"), "left")
        .groupBy(col("a.y"))
        .agg(coalesce(sum(col("b.cy")), lit(0L)).as("cum"))
        .select(col("y").as("yp"), col("cum"))
      val yps = s.range(0, 24).toDF("yp")
      val probes = mx.select(col("x")).crossJoin(broadcast(yps))
      val f = graft.operators.OrderStatistics.prefixSumByRank(
          cells.select((col("y") * K + col("x")).as("v"),
            col("c").as("w")),
          probes.select(col("x").as("user_id"),
            col("yp").as("session_idx"),
            (col("yp") * K + col("x")).as("q")),
          inclusive = false)
        .select(col("user_id").as("x"), col("session_idx").as("yp"),
          col("wsum"))
        .join(broadcast(cumy), Seq("yp"))
        .select(col("x"), col("yp"), (col("wsum") - col("cum")).as("fl"))
      val cd = cells.join(f, Seq("x"))
        .agg(
          sum(when(col("yp") < col("y"),
            col("c").cast(DecimalType(25, 0)) * col("fl"))
            .otherwise(lit(0).cast(DecimalType(25, 0)))).as("conc"),
          sum(when(col("yp") > col("y"),
            col("c").cast(DecimalType(25, 0)) * col("fl"))
            .otherwise(lit(0).cast(DecimalType(25, 0)))).as("disc"))
      val margx = mx.agg(sum(col("cx")).as("n"),
        sum(col("cx").cast(DecimalType(25, 0)) * (col("cx") - 1))
          .as("n1_2"))
      val margy = my.agg(
        sum(col("cy").cast(DecimalType(25, 0)) * (col("cy") - 1))
          .as("n2_2"))
      val out = cd.crossJoin(broadcast(margx)).crossJoin(broadcast(margy))
        .select(col("n"),
          col("conc").cast("long").as("conc"),
          col("disc").cast("long").as("disc"),
          round((col("conc") - col("disc")).cast("double") /
            sqrt(
              (col("n").cast("double") * (col("n") - 1).cast("double") -
                col("n1_2").cast("double")) / lit(2.0) *
              ((col("n").cast("double") * (col("n") - 1).cast("double") -
                col("n2_2").cast("double")) / lit(2.0))), 6).as("tau_b"))
      QueryScopedCache.releaseAfter(out, Seq(cells))
    },
    Some("""
      WITH ev AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS x,
               CAST(hour(ts) AS BIGINT) AS y
        FROM events),
      cells AS (SELECT x, y, COUNT(*) AS c FROM ev GROUP BY 1, 2),
      mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx
             FROM cells GROUP BY x),
      my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy
             FROM cells GROUP BY y),
      probes AS (
        SELECT t1.x, t2.yp FROM (SELECT DISTINCT x FROM cells) t1
        CROSS JOIN (SELECT unnest(range(0, 24)) AS yp) t2),
      u AS (
        SELECT y AS yy, x, c, 0 AS probe FROM cells
        UNION ALL
        SELECT yp AS yy, x, 0 AS c, 1 AS probe FROM probes),
      f0 AS (
        SELECT yy, x, probe,
               COALESCE(CAST(SUM(c) OVER (PARTITION BY yy
                 ORDER BY x ASC, probe DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT), 0) AS fl
        FROM u),
      f AS (SELECT yy AS yp, x, fl FROM f0 WHERE probe = 1),
      cd AS (
        SELECT SUM(CASE WHEN f.yp < cl.y
                 THEN CAST(cl.c AS DECIMAL(25,0)) * f.fl
                 ELSE CAST(0 AS DECIMAL(25,0)) END) AS conc,
               SUM(CASE WHEN f.yp > cl.y
                 THEN CAST(cl.c AS DECIMAL(25,0)) * f.fl
                 ELSE CAST(0 AS DECIMAL(25,0)) END) AS disc
        FROM cells cl JOIN f ON f.x = cl.x),
      margx AS (
        SELECT CAST(SUM(cx) AS BIGINT) AS n,
               SUM(CAST(cx AS DECIMAL(25,0)) * (cx - 1)) AS n1_2
        FROM mx),
      margy AS (
        SELECT SUM(CAST(cy AS DECIMAL(25,0)) * (cy - 1)) AS n2_2
        FROM my)
      SELECT x.n, CAST(c.conc AS BIGINT) AS conc,
             CAST(c.disc AS BIGINT) AS disc,
             ROUND(CAST(c.conc - c.disc AS DOUBLE) /
               SQRT((CAST(x.n AS DOUBLE) * CAST(x.n - 1 AS DOUBLE) -
                     CAST(x.n1_2 AS DOUBLE)) / 2.0 *
                    ((CAST(x.n AS DOUBLE) * CAST(x.n - 1 AS DOUBLE) -
                      CAST(y.n2_2 AS DOUBLE)) / 2.0)), 6) AS tau_b
      FROM cd c CROSS JOIN margx x CROSS JOIN margy y"""))

  /** Theil–Sen robust trend — the MEDIAN of all pairwise slopes of the
    * daily-total series per event type: a single anomalous day drags
    * an OLS slope ([[qStatsRegression]]) arbitrarily far, but moves
    * the pairwise-slope median not at all (29% breakdown point) — the
    * trend estimator monitoring pipelines want on spiky series.
    * Exactness: each pairwise slope rounds to micro-units then
    * DOUBLES ([[qStatsLevene]] ×2 trick), so the interpolated median
    * is an exact even integer cross-engine; the gate carries n_days,
    * n_pairs, and the integer median with the readable double
    * alongside.
    *
    * Scale shape: the unbounded scan ends at the bounded (type, day)
    * rollup; the pair space is an equi-join on type over that bounded
    * spine (days²/2 per type — at multi-year horizons the documented
    * swap is the sampled median-of-medians Theil–Sen), and the
    * per-type median is one exact percentile over the pair table. */
  val qStatsTheilsen = Q(
    "q_stats_theilsen",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val daily = t(s, dir, "events")
        .select(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("x"),
          expr("cast(round(value * 100) as bigint)").as("v"))
        .groupBy(col("event_type"), col("x"))
        .agg(sum(col("v")).as("y"))
        .persist(MEMORY_AND_DISK)
      val pairs = daily.join(
          daily.select(col("event_type"), col("x").as("x2"),
            col("y").as("y2")),
          Seq("event_type"))
        .filter(col("x2") > col("x"))
        .select(col("event_type"),
          (expr("""cast(round(cast(y2 - y as double) * 1000000.0d /
                   cast(x2 - x as double)) as bigint)""") * 2L)
            .as("sl2"))
      val result = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"))
        .join(pairs.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_pairs"),
            expr("cast(percentile(sl2, 0.5D) as bigint)").as("med_sl2")),
          Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("n_pairs"),
          col("med_sl2"),
          round(col("med_sl2").cast("double") / 2000000.0, 6)
            .as("ts_slope"))
        .orderBy(col("event_type"))
      QueryScopedCache.releaseAfter(result, Seq(daily))
    },
    Some("""
      WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                 AS x,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)),
      pairs AS (
        SELECT a.event_type,
               CAST(ROUND(CAST(b.y - a.y AS DOUBLE) * 1000000.0 /
                 CAST(b.x - a.x AS DOUBLE)) AS BIGINT) * 2 AS sl2
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.x > a.x),
      nd AS (
        SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY 1),
      med AS (
        SELECT event_type, COUNT(*) AS n_pairs,
               CAST(quantile_cont(sl2, 0.5) AS BIGINT) AS med_sl2
        FROM pairs GROUP BY event_type)
      SELECT n.event_type, n.n_days, m.n_pairs, m.med_sl2,
             ROUND(CAST(m.med_sl2 AS DOUBLE) / 2000000.0, 6) AS ts_slope
      FROM nd n JOIN med m USING (event_type)
      ORDER BY n.event_type"""))

  /** Quantile normalization — map every stream's value distribution
    * onto a REFERENCE stream's empirical distribution by rank (the
    * batch-effect-removal standard from bioinformatics, used in
    * pipelines to make per-source score distributions comparable
    * before a global threshold): value at within-stream rank r of n
    * maps to the reference value at index ceil(r·N/n) of N. Rank →
    * index → value is ALL integer arithmetic plus one equi-join
    * against the ranked reference ('view' events), so both engines
    * map identically — no interpolation seam. Output: per (stream,
    * decile-of-rank) row counts and the mean/min/max of the
    * normalized cents, proving the whole mapped distribution (not
    * just a summary moment) agrees.
    *
    * Scale shape: within-stream row_number (ordered by cents with
    * the event_id tiebreak) rides
    * [[graft.operators.OrderStatistics.groupRowRanks]] — the
    * range-partitioned distributed rank (TeraSort shape: ONE
    * exchange spread over ALL partitions; a 5-value
    * `event_type`-partitioned row_number over raw events was the
    * round-9 plan-audit finding: a ≤5-reducer funnel at 100×
    * scale). Per-stream totals are a 5-row broadcast. The mapping
    * join is an equi-join on the reference rank index (reference
    * side 1/5 of events here; at 100 TB the reference would be a
    * GK-sketch quantile table — [[qQuantileSketch]] — making this
    * side tiny/broadcast); the decile rollup reuses stream keys. */
  val qStatsQnorm = Q(
    "q_stats_qnorm",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      val sn = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val ranked = graft.operators.OrderStatistics
        .groupRowRanks(ev.select(col("event_type").as("g"),
          col("cents").as("v"), col("event_id").as("p")),
          minRank = false)
        .select(col("g").as("event_type"), col("v").as("cents"),
          col("rk").as("r"))
        .join(broadcast(sn), Seq("event_type"))
      val ref = ranked.filter(col("event_type") === "view")
        .select(col("r").as("ref_r"), col("cents").as("ref_cents"),
          col("n").as("ref_n"))
      ranked
        .join(broadcast(ref.select(max(col("ref_n")).as("nref"))))
        .select(col("event_type"), col("r"), col("n"),
          expr("(r * nref + n - 1) DIV n").as("tidx"))
        .join(ref.select(col("ref_r"), col("ref_cents")),
          col("tidx") === col("ref_r"))
        .select(col("event_type"),
          expr("((r - 1) * 10) DIV n").as("decile"),
          col("ref_cents"))
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("ref_cents")).as("sum_c"),
          min(col("ref_cents")).as("min_c"),
          max(col("ref_cents")).as("max_c"))
        .select(col("event_type"), col("decile"), col("n_rows"),
          round(col("sum_c").cast("double") /
            col("n_rows").cast("double"), 6).as("mean_c"),
          col("min_c"), col("max_c"))
        .orderBy(col("event_type"), col("decile"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events),
      ranked AS (
        SELECT event_type, cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY cents, event_id) AS BIGINT) AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ev),
      ref AS (
        SELECT r AS ref_r, cents AS ref_cents, n AS ref_n
        FROM ranked WHERE event_type = 'view'),
      nref AS (SELECT MAX(ref_n) AS nref FROM ref),
      mapped AS (
        SELECT k.event_type,
               (k.r - 1) * 10 // k.n AS decile,
               f.ref_cents
        FROM ranked k
        CROSS JOIN nref
        JOIN ref f
          ON (k.r * nref.nref + k.n - 1) // k.n = f.ref_r)
      SELECT event_type, decile, COUNT(*) AS n_rows,
             ROUND(CAST(SUM(ref_cents) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS mean_c,
             MIN(ref_cents) AS min_c, MAX(ref_cents) AS max_c
      FROM mapped
      GROUP BY event_type, decile
      ORDER BY event_type, decile"""))

  /** Split-conformal calibration — the distribution-free coverage
    * machinery behind conformal prediction: split each language's
    * documents 50/50 by a deterministic md5 bucket (salt '#cf'),
    * take the ⌈(n_cal+1)·(1−α)⌉-th smallest calibration score
    * (α = 0.1; score = document length as the nonconformity proxy)
    * as the group's threshold, and measure what fraction of the
    * TEST half falls at or under it. Exchangeability guarantees
    * expected coverage ≥ 90% with NO distributional assumption —
    * the honest way to turn any scorer into a calibrated accept set.
    * Everything is exact: the rank is integer arithmetic
    * (⌈(n+1)·9/10⌉ = ((n+1)·9+9) DIV 10, capped at n_cal for tiny
    * groups), the threshold is an order statistic picked by
    * [[graft.operators.OrderStatistics.groupRowRanks]] — the
    * range-partitioned distributed rank (a lang-partitioned
    * row_number over raw documents would funnel the calibration half
    * into |langs| reducers at scale — the round-9 audit's weak
    * class) — and coverage divides two BIGINTs once.
    *
    * Scale shape: one range exchange carries the calibration rank;
    * the test half joins the ≤|langs|-row threshold table by
    * broadcast — at 100 TB the calibration half would be a sampled
    * sketch, the test pass stays one narrow scan. */
  val qStatsConformal = Q(
    "q_stats_conformal",
    (s, dir) => {
      val scored = Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars").as("score"),
          (conv(substring(md5(concat(col("doc_id").cast("string"),
            lit("#cf"))), 1, 2), 16, 10).cast("long") < 128)
            .as("is_cal"))
      val calRk = graft.operators.OrderStatistics.groupRowRanks(
          scored.filter(col("is_cal")).select(col("lang").as("g"),
            col("score").as("v"), col("doc_id").as("p")),
          minRank = false)
        .select(col("g").as("lang"), col("v").as("score"), col("rk"))
      val nCal = scored.filter(col("is_cal")).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_cal"))
      val thr = calRk.join(broadcast(nCal), Seq("lang"))
        .filter(col("rk") ===
          least(expr("((n_cal + 1) * 9 + 9) DIV 10"), col("n_cal")))
        .select(col("lang"), col("n_cal"), col("rk").as("cal_rank"),
          col("score").as("threshold"))
      scored.filter(!col("is_cal"))
        .join(broadcast(thr), Seq("lang"))
        .groupBy(col("lang"))
        .agg(max(col("n_cal")).as("n_cal"),
          max(col("cal_rank")).as("cal_rank"),
          max(col("threshold")).as("threshold"),
          count(lit(1)).as("n_test"),
          sum(when(col("score") <= col("threshold"), lit(1L))
            .otherwise(lit(0L))).as("n_covered"))
        .select(col("lang"), col("n_cal"), col("cal_rank"),
          col("threshold"), col("n_test"), col("n_covered"),
          round(col("n_covered").cast("double") /
            col("n_test").cast("double"), 6).as("coverage"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, lang, n_chars AS score,
               CAST((instr('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || '#cf'),
                         1, 1)) - 1) * 16
                  + instr('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || '#cf'),
                         2, 1)) - 1 AS BIGINT) < 128 AS is_cal
        FROM documents),
      cal AS (
        SELECT lang, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY score, doc_id) AS BIGINT) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n_cal
        FROM scored WHERE is_cal),
      thr AS (
        SELECT lang, n_cal, rk AS cal_rank, score AS threshold
        FROM cal
        WHERE rk = LEAST(((n_cal + 1) * 9 + 9) // 10, n_cal))
      SELECT s.lang, t.n_cal, t.cal_rank, t.threshold,
             COUNT(*) AS n_test,
             CAST(SUM(CASE WHEN s.score <= t.threshold THEN 1 ELSE 0
               END) AS BIGINT) AS n_covered,
             ROUND(CAST(SUM(CASE WHEN s.score <= t.threshold THEN 1
                 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS coverage
      FROM scored s JOIN thr t USING (lang)
      WHERE NOT s.is_cal
      GROUP BY s.lang, t.n_cal, t.cal_rank, t.threshold
      ORDER BY s.lang"""))


  /** Wilcoxon signed-rank test per event type — the PAIRED
    * nonparametric test completing the classic trio
    * ([[qStatsMannWhitney]] two-sample, [[qStatsKruskal]] k-sample):
    * does each user's activity value shift between the observation
    * window's first and second half? Pairs are per (type, user)
    * cent-sums before/after the global midpoint (exact integers —
    * cents rounded per ROW, so no double-summation seam); zero
    * diffs drop (the standard convention), |d| takes MIDRANKS with
    * the tie-corrected normal approximation. Everything is BIGINT
    * until the one rounded z: doubled midranks (2·mid = 2·minrank +
    * c − 1) keep W⁺ integer as 2W⁺, and Var(2W⁺) =
    * (2n(n+1)(2n+1) − Σ(t³−t))/12 divides once in double.
    *
    * Scale shape: one (type, user)-keyed rollup (near-unique key —
    * never a low-card funnel), then min-ranks from
    * [[graft.operators.OrderStatistics.groupRowRanks]] (the
    * range-partitioned distributed rank carrying the SIGNED diff as
    * payload, so the positive-rank sum needs no join-back), a
    * (g, v)-keyed multiplicity frame for midranks/ties, and one
    * bounded per-type reduction. The one-row midpoint scalar rides a
    * broadcast cross join. */
  val qStatsWilcoxon = Q(
    "q_stats_wilcoxon",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        col("user_id"), unix_micros(col("ts")).as("tsu"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      val mid = ev.agg(min(col("tsu")).as("mn"), max(col("tsu")).as("mx"))
        .select((col("mn") + expr("(mx - mn) DIV 2")).as("m"))
      val pairs = ev.crossJoin(broadcast(mid))
        .groupBy(col("event_type"), col("user_id"))
        .agg(
          sum(when(col("tsu") < col("m"), col("cents")).otherwise(0L))
            .as("a"),
          sum(when(col("tsu") >= col("m"), col("cents")).otherwise(0L))
            .as("b"),
          sum(when(col("tsu") < col("m"), 1L).otherwise(0L)).as("na"),
          sum(when(col("tsu") >= col("m"), 1L).otherwise(0L)).as("nb"))
      val d = pairs
        .filter(col("na") > 0 && col("nb") > 0 && col("a") =!= col("b"))
        .select(col("event_type").as("g"),
          abs(col("b") - col("a")).as("v"),
          (col("b") - col("a")).as("p"))
      val rr = graft.operators.OrderStatistics
        .groupRowRanks(d, minRank = true)
      val cnts = rr.groupBy(col("g"), col("v"))
        .agg(count(lit(1)).as("c"))
      val agg1 = rr.join(cnts, Seq("g", "v"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("p").cast("long") > 0,
            lit(2L) * col("rk") + col("c") - lit(1L)).otherwise(0L))
            .as("w2plus"))
      val ties = cnts.groupBy(col("g"))
        .agg(sum(col("c") * col("c") * col("c") - col("c")).as("tie"))
      agg1.join(ties, Seq("g"))
        .select(col("g").as("event_type"), col("n_pairs"), col("w2plus"),
          round(
            (col("w2plus") - expr("(n_pairs * (n_pairs + 1)) DIV 2"))
              .cast("double") /
            sqrt(expr("cast(2 * n_pairs * (n_pairs + 1) * " +
              "(2 * n_pairs + 1) - tie as double)") / lit(12.0)), 6)
            .as("z"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH mid AS (
        SELECT epoch_us(CAST(MIN(ts) AS TIMESTAMP))
             + (epoch_us(CAST(MAX(ts) AS TIMESTAMP))
                - epoch_us(CAST(MIN(ts) AS TIMESTAMP))) // 2 AS m
        FROM events),
      ev AS (
        SELECT event_type, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events),
      pairs AS (
        SELECT event_type, user_id,
               CAST(SUM(CASE WHEN tsu < m.m THEN cents ELSE 0 END)
                 AS BIGINT) AS a,
               CAST(SUM(CASE WHEN tsu >= m.m THEN cents ELSE 0 END)
                 AS BIGINT) AS b,
               SUM(CASE WHEN tsu < m.m THEN 1 ELSE 0 END) AS na,
               SUM(CASE WHEN tsu >= m.m THEN 1 ELSE 0 END) AS nb
        FROM ev CROSS JOIN mid m GROUP BY 1, 2),
      d AS (
        SELECT event_type AS g, ABS(b - a) AS v, b - a AS p
        FROM pairs WHERE na > 0 AND nb > 0 AND a <> b),
      rk AS (
        SELECT g, v, p,
               CAST(RANK() OVER (PARTITION BY g ORDER BY v) AS BIGINT)
                 AS mr,
               CAST(COUNT(*) OVER (PARTITION BY g, v) AS BIGINT) AS c
        FROM d),
      agg AS (
        SELECT g, COUNT(*) AS n_pairs,
               CAST(SUM(CASE WHEN p > 0 THEN 2 * mr + c - 1 ELSE 0 END)
                 AS BIGINT) AS w2plus
        FROM rk GROUP BY g),
      ties AS (
        SELECT g, CAST(SUM(c * c * c - c) AS BIGINT) AS tie
        FROM (SELECT g, v, COUNT(*) AS c FROM d GROUP BY 1, 2)
        GROUP BY g)
      SELECT a.g AS event_type, a.n_pairs, a.w2plus,
             ROUND(CAST(a.w2plus - (a.n_pairs * (a.n_pairs + 1)) // 2
                 AS DOUBLE) /
               SQRT(CAST(2 * a.n_pairs * (a.n_pairs + 1)
                   * (2 * a.n_pairs + 1) - t.tie AS DOUBLE) / 12.0), 6)
               AS z
      FROM agg a JOIN ties t USING (g)
      ORDER BY event_type"""))

  /** Friedman rank test — the k-RELATED-samples member closing the
    * nonparametric family ([[qStatsMannWhitney]] two independent,
    * [[qStatsKruskal]] k independent, [[qStatsWilcoxon]] two paired):
    * blocks are users, treatments are the five event types, the cell
    * is the user's cent-sum per type, and within each COMPLETE block
    * (all five types present) the cells take midranks 1..5. Do the
    * treatments differ once every user serves as their own control?
    * Doubled midranks keep everything BIGINT: with r2 = 2·midrank,
    * the tie-corrected statistic is EXACTLY
    * Q = (k−1)·Σ_j(R2_j − n(k+1))² / (Σr2² − n·k·(k+1)²) — integer
    * numerator and denominator, one rounded double division. Output:
    * one row per treatment with its rank sum (doubled) plus the
    * scalar Q broadcast onto each row (the [[StatsQueries]]
    * ANOVA/Levene k-row-frame pattern).
    *
    * Scale shape: one (user, type) rollup, one users-keyed window
    * over ≤k-row partitions (user_id is near-unique — never a
    * low-card funnel; the rank frame per partition is the k
    * treatment cells), bounded k-row algebra after; the one-row Q
    * scalar rides a broadcast cross join. */
  val qStatsFriedman = Q(
    "q_stats_friedman",
    (s, dir) => {
      val cells = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(expr("cast(round(value * 100) as bigint)")).as("v"))
      val complete = cells.groupBy(col("user_id"))
        .agg(count(lit(1)).as("kk")).filter(col("kk") === 5)
        .select(col("user_id"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("v"))
      val wTie = Window.partitionBy(col("user_id"), col("v"))
      val ranked = cells
        .join(complete, Seq("user_id"), "left_semi")
        .withColumn("minrk", rank().over(wU).cast("long"))
        .withColumn("c", count(lit(1)).over(wTie))
        .select(col("user_id"), col("event_type"),
          (lit(2L) * col("minrk") + col("c") - lit(1L)).as("r2"))
      val byT = ranked.groupBy(col("event_type"))
        .agg(sum(col("r2")).as("r2_sum"))
      val scal = ranked.agg(sum(col("r2") * col("r2")).as("a2"),
        count(lit(1)).as("ncells"))
      val withN = byT.crossJoin(broadcast(scal))
        .withColumn("n", expr("ncells DIV 5"))
        .withColumn("dev", col("r2_sum") - col("n") * lit(6L))
      val num = withN.agg(sum(col("dev") * col("dev")).as("n2"))
      withN.crossJoin(broadcast(num))
        .select(col("event_type"), col("n").as("n_blocks"),
          col("r2_sum"),
          round((lit(4L) * col("n2")).cast("double") /
            (col("a2") - col("n") * lit(180L)).cast("double"), 6)
            .as("friedman_q"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH cells AS (
        SELECT user_id, event_type,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS v
        FROM events GROUP BY 1, 2),
      complete AS (
        SELECT user_id FROM cells GROUP BY user_id
        HAVING COUNT(*) = 5),
      ranked AS (
        SELECT c.user_id, c.event_type,
               2 * CAST(RANK() OVER (PARTITION BY c.user_id ORDER BY c.v)
                 AS BIGINT)
               + CAST(COUNT(*) OVER (PARTITION BY c.user_id, c.v)
                 AS BIGINT) - 1 AS r2
        FROM cells c JOIN complete USING (user_id)),
      by_t AS (
        SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2_sum,
               COUNT(*) AS n_blocks
        FROM ranked GROUP BY 1),
      scal AS (
        SELECT CAST(SUM(r2 * r2) AS BIGINT) AS a2,
               COUNT(*) // 5 AS n
        FROM ranked),
      num AS (
        SELECT CAST(SUM((b.r2_sum - s.n * 6) * (b.r2_sum - s.n * 6))
                 AS BIGINT) AS n2
        FROM by_t b CROSS JOIN scal s)
      SELECT b.event_type, s.n AS n_blocks, b.r2_sum,
             ROUND(CAST(4 * num.n2 AS DOUBLE)
               / CAST(s.a2 - s.n * 180 AS DOUBLE), 6) AS friedman_q
      FROM by_t b CROSS JOIN scal s CROSS JOIN num
      ORDER BY event_type"""))

  /** Cochran's Q — the k-related-samples test for BINARY outcomes
    * (the dichotomous sibling of [[qStatsFriedman]]): per complete
    * user block, did each event type's activity value GROW across
    * the window midpoint (second-half cent-sum > first-half)? Do
    * growth rates differ across types once each user is their own
    * control? Column totals C_j, row totals R_i, N = ΣC_j, and
    * Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²) — every term BIGINT,
    * one rounded division (fixture read first: denominators 722 /
    * 7416 at sf0.01 / sf0.1 — non-degenerate; the naive "any event
    * after midpoint" indicator saturates to all-ones and was
    * rejected). Emits one row per type with its success count plus
    * the scalar Q broadcast on (the Friedman k-row-frame pattern).
    *
    * Scale shape: one (user, type) rollup (near-unique key), a
    * complete-block semi-join, bounded k-row and one-row scalar
    * algebra after; the one-row midpoint scalar rides a broadcast
    * cross join. */
  val qStatsCochranq = Q(
    "q_stats_cochranq",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        col("user_id"), unix_micros(col("ts")).as("tsu"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      val mid = ev.agg(min(col("tsu")).as("mn"), max(col("tsu")).as("mx"))
        .select((col("mn") + expr("(mx - mn) DIV 2")).as("m"))
      val cells = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"), col("event_type"))
        .agg((sum(when(col("tsu") >= col("m"), col("cents"))
            .otherwise(0L)) >
          sum(when(col("tsu") < col("m"), col("cents")).otherwise(0L)))
          .cast("long").as("x"))
      val comp = cells.groupBy(col("user_id"))
        .agg(count(lit(1)).as("kk")).filter(col("kk") === 5)
        .select(col("user_id"))
      val xs = cells.join(comp, Seq("user_id"), "left_semi")
      val cj = xs.groupBy(col("event_type")).agg(sum(col("x")).as("c"))
      val ri = xs.groupBy(col("user_id")).agg(sum(col("x")).as("r"))
      val scal = cj.agg(sum(col("c") * col("c")).as("sc2"),
          sum(col("c")).as("nn"))
        .crossJoin(broadcast(
          ri.agg(sum(col("r") * col("r")).as("sr2"),
            count(lit(1)).as("n_blocks"))))
      cj.crossJoin(broadcast(scal))
        .select(col("event_type"), col("n_blocks"),
          col("c").as("n_grew"),
          round((lit(4L) * (lit(5L) * col("sc2") - col("nn") * col("nn")))
            .cast("double") /
            (lit(5L) * col("nn") - col("sr2")).cast("double"), 6)
            .as("cochran_q"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH mid AS (
        SELECT epoch_us(CAST(MIN(ts) AS TIMESTAMP))
             + (epoch_us(CAST(MAX(ts) AS TIMESTAMP))
                - epoch_us(CAST(MIN(ts) AS TIMESTAMP))) // 2 AS m
        FROM events),
      ev AS (
        SELECT event_type, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events),
      cells AS (
        SELECT user_id, event_type,
               CASE WHEN SUM(CASE WHEN tsu >= m.m THEN cents ELSE 0 END)
                      > SUM(CASE WHEN tsu < m.m THEN cents ELSE 0 END)
                    THEN 1 ELSE 0 END AS x
        FROM ev CROSS JOIN mid m GROUP BY 1, 2),
      comp AS (
        SELECT user_id FROM cells GROUP BY user_id
        HAVING COUNT(*) = 5),
      xs AS (SELECT c.* FROM cells c JOIN comp USING (user_id)),
      cj AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS c
             FROM xs GROUP BY 1),
      ri AS (SELECT user_id, CAST(SUM(x) AS BIGINT) AS r
             FROM xs GROUP BY 1),
      scal AS (
        SELECT (SELECT CAST(SUM(c * c) AS BIGINT) FROM cj) AS sc2,
               (SELECT CAST(SUM(c) AS BIGINT) FROM cj) AS nn,
               (SELECT CAST(SUM(r * r) AS BIGINT) FROM ri) AS sr2,
               (SELECT COUNT(*) FROM ri) AS n_blocks)
      SELECT cj.event_type, s.n_blocks, cj.c AS n_grew,
             ROUND(CAST(4 * (5 * s.sc2 - s.nn * s.nn) AS DOUBLE)
               / CAST(5 * s.nn - s.sr2 AS DOUBLE), 6) AS cochran_q
      FROM cj CROSS JOIN scal s
      ORDER BY event_type"""))

  /** Registry consumed by StatsQueries.all. */
  val all: Seq[Q] = Seq(qStatsSpearman, qStatsWmedian, qStatsMad, qStatsGini, qStatsKs, qStatsMannWhitney, qStatsKruskal, qStatsKendall, qStatsTheilsen, qStatsQnorm, qStatsConformal, qStatsWilcoxon, qStatsFriedman, qStatsCochranq)
}
