package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series family (gapfill/EWMA/Holt/OHLC/ACF/xcorr/CUSUM/seasonality/anomaly/forecast/completeness/drawdown/LTTB) split out of RelationalQueries in round 10.
  *
  * Oracle-parity rules are RelationalQueries' (the driver hash-compares
  * values and schemas against DuckDB running `oracle` on the same
  * parquet); `all` concatenates into RelationalQueries.all, so the
  * registry surface and count pin are unchanged by the split. */
object TsQueries {
  import RelationalQueries.{Q, t}

  /** Input rows for the Holt smoother's typed scan. */
  private[analytics] case class HoltIn(g: String, x: Long, y: Long)
  private[analytics] case class HoltOut(
      g: String, n_months: Long, level_c: Long, trend_c: Long,
      f1_c: Long, f2_c: Long, f3_c: Long)


  /** Time-series gap fill — densify each event type's hourly series
    * over its own observed span: missing hours materialize with a
    * zero count and the last observed hourly average carried forward
    * (the dashboard/feature-store densification step; ~6% of hours
    * are genuinely absent in the fixture). The grid is a per-group
    * sequence-explode between that group's min and max hour — never a
    * global calendar — and the fill is one partitioned running
    * last-ignore-nulls window, so the whole query shuffles only on
    * event_type. Ratio parity discipline: the hourly average divides
    * exact integer micro-units once in double and rounds at 6. */
  val qTsGapfill = Q(
    "q_ts_gapfill",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(value * 1000000) as bigint)")).as("vm"))
      val grid = hourly.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          round(last(expr("vm / (n * 1e6)"), ignoreNulls = true)
            .over(w), 6).as("avg_value_filled"),
          col("n").isNull.as("is_gap"))
        .orderBy(col("event_type"), col("h"))
    },
    Some("""
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n,
               SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS vm
        FROM events GROUP BY 1, 2),
      spans AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
                FROM hourly GROUP BY 1),
      grid AS (
        SELECT event_type,
               unnest([x for x in
                       generate_series(h0, h1, INTERVAL 1 HOUR)]) AS h
        FROM spans),
      j AS (SELECT g.event_type, g.h, hr.n, hr.vm
            FROM grid g LEFT JOIN hourly hr USING (event_type, h))
      SELECT event_type, h,
             COALESCE(n, 0) AS n_events,
             ROUND(LAST_VALUE(vm / (n * 1000000.0) IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS avg_value_filled,
             n IS NULL AS is_gap
      FROM j ORDER BY event_type, h"""))

  // ---------------------------------------------------------------
  // Scalar function families
  // ---------------------------------------------------------------

  /** Truncated exponentially-weighted moving average over the dense
    * hourly event spine: weight 2^(15-Δ) for lag Δ ∈ [0,15], i.e.
    * α = 1/2 cut at 16 terms, normalized by the weights actually
    * present — integer-exact in both engines (power-of-two weights,
    * BIGINT sums, one final double division rounded to 6).
    *
    * Scale shape: instead of a 16-hour range self-join, each spine row
    * EXPLODES its bounded 16-target contribution list (constant 16×
    * fan-out, a narrow op) and a single hash aggregate on
    * (event_type, target_hour) re-collects — map-side partial combine
    * eats most of the fan-out before the one exchange; no range-join
    * BNLJ risk at any scale. The dense grid join is the same
    * min/max + sequence spine as q_ts_gapfill. */
  val qTsEwma = Q(
    "q_ts_ewma",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val grid = hourly.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val dense = grid.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("n"), lit(0L)).as("n"))
      val contrib = dense
        .select(col("event_type"), col("h"), col("n"),
          explode(expr("sequence(0, 15)")).as("d"))
        .select(col("event_type"),
          expr("h + make_interval(0, 0, 0, 0, d, 0, 0)").as("th"),
          expr("n * shiftleft(1L, 15 - d)").as("wn"),
          expr("shiftleft(1L, 15 - d)").as("w"))
      contrib.join(dense.select(col("event_type"), col("h").as("th"),
          col("n").as("n_events")), Seq("event_type", "th"))
        .groupBy(col("event_type"), col("th").as("h"),
          col("n_events"))
        .agg(sum(col("wn")).as("swn"), sum(col("w")).as("sw"))
        .select(col("event_type"), col("h"), col("n_events"),
          round(col("swn").cast("double") / col("sw").cast("double"), 6)
            .as("ewma"))
        .orderBy(col("event_type"), col("h"))
    },
    Some("""
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      spans AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
                FROM hourly GROUP BY 1),
      grid AS (
        SELECT event_type,
               unnest([x for x in
                       generate_series(h0, h1, INTERVAL 1 HOUR)]) AS h
        FROM spans),
      dense AS (
        SELECT g.event_type, g.h, COALESCE(hr.n, 0) AS n
        FROM grid g LEFT JOIN hourly hr USING (event_type, h)),
      contrib AS (
        SELECT event_type, h + TO_HOURS(CAST(d AS BIGINT)) AS th,
               n * (1 << (15 - d)) AS wn,
               CAST(1 << (15 - d) AS BIGINT) AS w
        FROM dense, range(0, 16) AS t(d))
      SELECT c.event_type, c.th AS h, d2.n AS n_events,
             ROUND(CAST(SUM(c.wn) AS DOUBLE) /
                   CAST(SUM(c.w) AS DOUBLE), 6) AS ewma
      FROM contrib c
      JOIN dense d2 ON d2.event_type = c.event_type AND d2.h = c.th
      GROUP BY c.event_type, c.th, d2.n
      ORDER BY c.event_type, c.th"""))

  /** OHLC bar downsampling: per event type and hour, the open (first
    * value by event time), high, low, close (last value), and count —
    * the classic market-data resample, and the general "reduce a
    * high-frequency stream to per-window endpoint statistics" shape.
    *
    * Spark-first shape: ONE hash aggregate — `min_by`/`max_by` keyed
    * on the (ts, event_id) struct pick the endpoint values inside the
    * same partial/final aggregation as high/low/count, so the plan is
    * a single exchange on the grouping key with NO window sort. The
    * oracle replays the endpoints via ROW_NUMBER because DuckDB's
    * arg_min is single-key; formulations agree because event_id makes
    * the per-bar ordering total. Open/close/high/low pass the raw
    * DOUBLE through untouched (no arithmetic → no accumulation-order
    * or rounding hazard in the hash compare). */
  val qTsOhlc = Q(
    "q_ts_ohlc",
    (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id")))
            .as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id")))
            .as("close"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"), col("h"))
    },
    Some("""
      WITH ranked AS (
        SELECT event_type, date_trunc('hour', ts) AS h, value,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                               date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                               date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events)
      SELECT event_type, h,
             MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
             MAX(value) AS high,
             MIN(value) AS low,
             MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
             COUNT(*) AS n_events
      FROM ranked GROUP BY event_type, h
      ORDER BY event_type, h"""))

  /** Autocorrelation function of the gap-free hourly event-count
    * series at lags 1..24 — the seasonality screen run before fitting
    * any forecast model. The corpus-scale work is the hourly count
    * aggregation (one exchange on the truncated hour); the series
    * itself is bounded (span-hours rows), so the zero-fill (the
    * [[qTsGapfill]] sequence-explode, with absence meaning a REAL
    * count of zero, not an imputation), the 24-way lag join on the
    * integer hour index, and the per-lag reduction all run on a
    * data-independent frame. The sample ACF normalizes by the
    * full-series mean/variance; multiplying through by n² keeps every
    * term an exact BIGINT (bounded while n·S·2·S < 2⁶³ — hour counts
    * into the tens of thousands over multi-year spans, far beyond any
    * fixture), with one double division rounded at 6. */
  val qTsAcf = Q(
    "q_ts_acf",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
      val span = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = span
        .select(col("h0"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val series = grid.join(hourly, Seq("h"), "left")
        .select(
          expr("(unix_micros(h) - unix_micros(h0)) div 3600000000")
            .as("tix"),
          coalesce(col("x"), lit(0L)).as("x"))
      val tot = series.agg(count(lit(1)).as("n"), sum(col("x")).as("ss"),
        sum(col("x") * col("x")).as("sxx"))
      val lags = s.range(1, 25).toDF("k")
      series.crossJoin(lags)
        .select(col("k"), (col("tix") + col("k")).as("tj"),
          col("x").as("xa"))
        .join(series.select(col("tix").as("tj"), col("x").as("xb")),
          Seq("tj"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("xa") * col("xb")).as("sxy"),
          sum(col("xa")).as("hh"), sum(col("xb")).as("tt"))
        .crossJoin(broadcast(tot))
        .select(col("k").as("lag"), col("n_pairs"),
          round(
            (col("n") * col("n") * col("sxy") -
              col("n") * col("ss") * (col("hh") + col("tt")) +
              col("n_pairs") * col("ss") * col("ss")).cast("double") /
            (col("n") * col("n") * col("sxx") -
              col("n") * col("ss") * col("ss")).cast("double"), 6).as("r"))
        .orderBy(col("lag"))
    },
    Some("""
      WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, COUNT(*) AS x
        FROM events GROUP BY 1),
      span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
      grid AS (
        SELECT h0, unnest([g for g in
                           generate_series(h0, h1, INTERVAL 1 HOUR)]) AS h
        FROM span),
      series AS (
        SELECT CAST((epoch_us(g.h) - epoch_us(g.h0)) // 3600000000
                 AS BIGINT) AS tix,
               COALESCE(hr.x, 0) AS x
        FROM grid g LEFT JOIN hourly hr USING (h)),
      tot AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS ss,
                     CAST(SUM(x * x) AS BIGINT) AS sxx
              FROM series),
      lags AS (SELECT unnest(range(1, 25)) AS k),
      j AS (
        SELECT l.k, COUNT(*) AS n_pairs,
               CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
               CAST(SUM(a.x) AS BIGINT) AS hh,
               CAST(SUM(b.x) AS BIGINT) AS tt
        FROM series a CROSS JOIN lags l
        JOIN series b ON b.tix = a.tix + l.k
        GROUP BY l.k)
      SELECT k AS lag, n_pairs,
             ROUND(CAST(n * n * sxy - n * ss * (hh + tt)
                        + n_pairs * ss * ss AS DOUBLE) /
                   CAST(n * n * sxx - n * ss * ss AS DOUBLE), 6) AS r
      FROM j CROSS JOIN tot ORDER BY lag"""))

  /** Zero-filled hourly count series per event type — absent hours
    * materialize as REAL zero counts (the [[qTsGapfill]]
    * sequence-explode, count-only form): the shared input of
    * [[qTsCusum]] and [[qTsSeasonality]], with its oracle-side mirror
    * below so the Spark/SQL pair can't drift. */
  private[analytics] def hourlySeriesByType(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("x"))
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("x"), lit(0L)).as("x"))
  }

  /** [[hourlySeriesByType]]'s oracle CTE chain (yields `series`). */
  private[analytics] val hourlySeriesByTypeSql: String =
    """hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS x
        FROM events GROUP BY 1, 2),
      spans AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
                FROM hourly GROUP BY 1),
      grid AS (
        SELECT event_type,
               unnest([g for g in
                       generate_series(h0, h1, INTERVAL 1 HOUR)]) AS h
        FROM spans),
      series AS (
        SELECT g.event_type, g.h, COALESCE(hr.x, 0) AS x
        FROM grid g LEFT JOIN hourly hr USING (event_type, h))"""

  /** CUSUM changepoint screen per event type — the hour at which the
    * cumulative deviation of the hourly count from the series mean
    * peaks in magnitude (the classic level-shift detector: a sustained
    * rate change makes |CUSUM| grow linearly until the shift point).
    * The mean is kept rational — deviations are n·xₜ − S, the ×n
    * scaling of xₜ − S/n — so every value in the query is an exact
    * BIGINT and the gate pins the full statistic, not a rounding of
    * it. Scale shape: the corpus-scale work is the hourly count
    * exchange; the zero-filled series (absent hours are REAL zero
    * counts, the [[qTsGapfill]] sequence-explode) is bounded per type,
    * the running sum and max windows are PARTITIONED by event_type,
    * and the argmax resolves by earliest-hour join — no global sort,
    * no driver loop. */
  val qTsCusum = Q(
    "q_ts_cusum",
    (s, dir) => {
      val series = hourlySeriesByType(s, dir)
      val tots = series.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("total_events"))
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      // persisted: cum feeds both the peak argmax and the final join —
      // unpersisted, the corpus-scale hourly exchange and both windows
      // run twice (review finding, this session)
      val cum = series.join(broadcast(tots), Seq("event_type"))
        .withColumn("cum",
          sum(col("n_hours") * col("x") - col("total_events")).over(wRun))
        .withColumn("mx", max(abs(col("cum"))).over(wAll))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val peaks = cum.filter(abs(col("cum")) === col("mx"))
        .groupBy(col("event_type")).agg(min(col("h")).as("peak_h"))
        .select(col("event_type").as("pt"), col("peak_h"))
      QueryScopedCache.releaseAfter(
        cum.join(peaks,
            col("event_type") === col("pt") && col("h") === col("peak_h"))
          .select(col("event_type"), col("n_hours"), col("total_events"),
            col("peak_h"), col("cum").as("cusum_peak"))
          .orderBy(col("event_type")),
        Seq(cum))
    },
    Some(s"""
      WITH ${hourlySeriesByTypeSql},
      tots AS (
        SELECT event_type, COUNT(*) AS n_hours,
               CAST(SUM(x) AS BIGINT) AS total_events
        FROM series GROUP BY event_type),
      cum AS (
        SELECT s.event_type, s.h, t.n_hours, t.total_events,
               CAST(SUM(t.n_hours * s.x - t.total_events) OVER (
                 PARTITION BY s.event_type ORDER BY s.h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
        FROM series s JOIN tots t USING (event_type)),
      mx AS (
        SELECT event_type, MAX(ABS(cum)) AS m FROM cum GROUP BY 1),
      peaks AS (
        SELECT c.event_type, MIN(c.h) AS peak_h
        FROM cum c JOIN mx USING (event_type)
        WHERE ABS(c.cum) = mx.m GROUP BY c.event_type)
      SELECT c.event_type, c.n_hours, c.total_events, p.peak_h,
             c.cum AS cusum_peak
      FROM cum c JOIN peaks p
        ON c.event_type = p.event_type AND c.h = p.peak_h
      ORDER BY c.event_type"""))

  /** Hour-of-day seasonality strength per event type — the variance
    * decomposition (between-hour-of-day sum of squares over total sum
    * of squares, the η² a forecaster checks before choosing a seasonal
    * model) plus the peak hour-of-day. Over the ZERO-FILLED hourly
    * series (absent hours are real zero counts), so the decomposition
    * sees the true daily profile. Exactness discipline: both sums of
    * squares are defined WITH explicit ×10⁶ floor divisions
    * (SSB = Σ_g ⌊S_g²·10⁶/n_g⌋ − ⌊S²·10⁶/n⌋, SST = Sxx·10⁶ − ⌊S²·10⁶/n⌋)
    * so every intermediate is an exact BIGINT the oracle replicates
    * term-for-term — no order-dependent double summation; the one
    * double division rounds at 6. Peak-hour means compare as floor
    * micro-means with a min-hod tie-break. Scale shape: corpus work is
    * the hourly exchange; the 24×|types| profile and per-type scalars
    * are bounded. */
  val qTsSeasonality = Q(
    "q_ts_seasonality",
    (s, dir) => {
      val series = hourlySeriesByType(s, dir)
        .select(col("event_type"), hour(col("h")).cast("long").as("hod"),
          col("x"))
      val byHod = series.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"))
      val tot = series.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("ss"),
          sum(col("x") * col("x")).as("sxx"))
      val ssb = byHod.groupBy(col("event_type"))
        .agg(sum(expr("CAST(sg * sg * 1000000 DIV ng AS BIGINT)"))
          .as("ssb_raw"))
      val meanHod = byHod
        .select(col("event_type"), col("hod"),
          expr("CAST(sg * 1000000 DIV ng AS BIGINT)").as("mean_micro"))
      val mxMean = meanHod.groupBy(col("event_type"))
        .agg(max(col("mean_micro")).as("mm"))
      val peak = meanHod.join(mxMean, Seq("event_type"))
        .filter(col("mean_micro") === col("mm"))
        .groupBy(col("event_type"))
        .agg(min(col("hod")).as("peak_hod"), max(col("mm"))
          .as("peak_mean_micro"))
      tot.join(ssb, Seq("event_type")).join(peak, Seq("event_type"))
        .select(col("event_type"), col("n").as("n_hours"),
          col("peak_hod"), col("peak_mean_micro"),
          round(
            (col("ssb_raw") - expr("CAST(ss * ss * 1000000 DIV n AS BIGINT)"))
              .cast("double") /
            (col("sxx") * lit(1000000L) -
              expr("CAST(ss * ss * 1000000 DIV n AS BIGINT)"))
              .cast("double"), 6).as("seasonality_strength"))
        .orderBy(col("event_type"))
    },
    Some(s"""
      WITH ${hourlySeriesByTypeSql},
      hseries AS (
        SELECT event_type, CAST(hour(h) AS BIGINT) AS hod, x
        FROM series),
      by_hod AS (
        SELECT event_type, hod, COUNT(*) AS ng,
               CAST(SUM(x) AS BIGINT) AS sg
        FROM hseries GROUP BY 1, 2),
      tot AS (
        SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS ss,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM hseries GROUP BY 1),
      ssb AS (
        SELECT event_type,
               CAST(SUM(sg * sg * 1000000 // ng) AS BIGINT) AS ssb_raw
        FROM by_hod GROUP BY 1),
      mean_hod AS (
        SELECT event_type, hod,
               CAST(sg * 1000000 // ng AS BIGINT) AS mean_micro
        FROM by_hod),
      mx AS (SELECT event_type, MAX(mean_micro) AS mm
             FROM mean_hod GROUP BY 1),
      peak AS (
        SELECT m.event_type, MIN(m.hod) AS peak_hod,
               MAX(mx.mm) AS peak_mean_micro
        FROM mean_hod m JOIN mx USING (event_type)
        WHERE m.mean_micro = mx.mm GROUP BY m.event_type)
      SELECT t.event_type, t.n AS n_hours, p.peak_hod, p.peak_mean_micro,
             ROUND(CAST(s.ssb_raw - (t.ss * t.ss * 1000000 // t.n)
                     AS DOUBLE) /
                   CAST(t.sxx * 1000000 - (t.ss * t.ss * 1000000 // t.n)
                     AS DOUBLE), 6) AS seasonality_strength
      FROM tot t JOIN ssb s USING (event_type)
      JOIN peak p USING (event_type)
      ORDER BY t.event_type"""))

  /** Seasonally-adjusted anomaly screen — flag hours whose count is
    * more than 3σ away from their OWN hour-of-day mean (per event
    * type): the screen [[qTsSeasonality]]'s decomposition exists to
    * enable, catching anomalies a global z-score misses (a quiet-hour
    * burst hides under the daily cycle) and un-flagging ordinary
    * daily peaks a global screen false-alarms on. Exact integer
    * discipline throughout: residuals in milli-units against floor
    * hod-means, and the 3σ test as the cross-multiplication
    * resid²·n > 9·Σresid² — no variance division, no sqrt, every
    * comparison BIGINT. Scale shape: one corpus hourly exchange
    * (the shared zero-filled series), bounded hod/means tables,
    * flags computed in-row. */
  val qTsAnomalySeasonal = Q(
    "q_ts_anomaly_seasonal",
    (s, dir) => {
      val series = hourlySeriesByType(s, dir)
        .select(col("event_type"), col("h"),
          hour(col("h")).cast("long").as("hod"), col("x"))
      val hodMean = series.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"))
        .select(col("event_type"), col("hod"),
          expr("CAST(sg * 1000 DIV ng AS BIGINT)").as("mean_milli"))
      val resid = series.join(hodMean, Seq("event_type", "hod"))
        .select(col("event_type"), col("h"), col("x"),
          (col("x") * lit(1000L) - col("mean_milli")).as("resid_milli"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val disp = resid.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("resid_milli") * col("resid_milli")).as("ssr"))
      QueryScopedCache.releaseAfter(
        resid.join(disp, Seq("event_type"))
          .filter(col("resid_milli") * col("resid_milli") * col("n") >
            col("ssr") * lit(9L))
          .select(col("event_type"), col("h"), col("x"),
            col("resid_milli"))
          .orderBy(col("event_type"), col("h")),
        Seq(resid))
    },
    Some(s"""
      WITH ${hourlySeriesByTypeSql},
      hseries AS (
        SELECT event_type, h, CAST(hour(h) AS BIGINT) AS hod, x
        FROM series),
      hod_mean AS (
        SELECT event_type, hod,
               CAST(CAST(SUM(x) AS BIGINT) * 1000 // COUNT(*) AS BIGINT)
                 AS mean_milli
        FROM hseries GROUP BY 1, 2),
      resid AS (
        SELECT s.event_type, s.h, s.x,
               s.x * 1000 - m.mean_milli AS resid_milli
        FROM hseries s JOIN hod_mean m USING (event_type, hod)),
      disp AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(resid_milli * resid_milli) AS BIGINT) AS ssr
        FROM resid GROUP BY 1)
      SELECT r.event_type, r.h, r.x, r.resid_milli
      FROM resid r JOIN disp d USING (event_type)
      WHERE r.resid_milli * r.resid_milli * d.n > d.ssr * 9
      ORDER BY r.event_type, r.h"""))

  /** Lead-lag cross-correlation between two event streams — the
    * hourly click series against the hourly purchase series at lags
    * −12…+12: at which offset does one stream best predict the other
    * (positive lag k = clicks now vs purchases k hours LATER — the
    * conversion-delay detector)? [[qTsAcf]]'s machinery pointed at a
    * PAIR of series; unlike ACF's symmetric normalizer, each lag here
    * is a full Pearson over the overlapping window (per-lag sums on
    * both sides), so r ∈ [−1, 1] exactly.
    *
    * Both series zero-fill on one SHARED hour grid (absent hours are
    * real zero counts), so lags align by integer hour index. All six
    * per-lag sums are BIGINT; the only double is the final rounded
    * correlation, evaluated as the identical IEEE expression in both
    * engines. Scale shape: the corpus-scale work is one hourly
    * count exchange; the 25-row lag table cross-joins only the
    * bounded hourly series, and each lag's alignment is an integer
    * equi-join on the hour index — no windows at all. */
  val qTsXcorr = Q(
    "q_ts_xcorr",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
      val span = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val tixed = span
        .select(col("h0"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
        .select(
          expr("(unix_micros(h) - unix_micros(h0)) div 3600000000")
            .as("tix"),
          col("h"))
      val sa = tixed
        .join(hourly.filter(col("event_type") === "click")
          .select(col("h"), col("x")), Seq("h"), "left")
        .select(col("tix"), coalesce(col("x"), lit(0L)).as("xa"))
      val sb = tixed
        .join(hourly.filter(col("event_type") === "purchase")
          .select(col("h"), col("x")), Seq("h"), "left")
        .select(col("tix").as("tj"), coalesce(col("x"), lit(0L)).as("xb"))
      val lags = s.range(-12, 13).toDF("k")
      sa.crossJoin(lags)
        .select(col("k"), (col("tix") + col("k")).as("tj"), col("xa"))
        .join(sb, Seq("tj"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("xa") * col("xb")).as("sab"),
          sum(col("xa")).as("sa"), sum(col("xb")).as("sb"),
          sum(col("xa") * col("xa")).as("saa"),
          sum(col("xb") * col("xb")).as("sbb"))
        .select(col("k").as("lag"), col("n_pairs"),
          round(
            (col("n_pairs") * col("sab") - col("sa") * col("sb"))
              .cast("double") /
            sqrt(
              (col("n_pairs") * col("saa") - col("sa") * col("sa"))
                .cast("double") *
              (col("n_pairs") * col("sbb") - col("sb") * col("sb"))
                .cast("double")), 6).as("r"))
        .orderBy(col("lag"))
    },
    Some("""
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS x
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1, 2),
      span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
      tixed AS (
        SELECT CAST((epoch_us(h) - epoch_us(h0)) // 3600000000
                 AS BIGINT) AS tix, h
        FROM (SELECT h0, unnest([g for g in
                generate_series(h0, h1, INTERVAL 1 HOUR)]) AS h
              FROM span)),
      sa AS (
        SELECT t.tix, COALESCE(a.x, 0) AS xa
        FROM tixed t LEFT JOIN (
          SELECT h, x FROM hourly WHERE event_type = 'click') a
          USING (h)),
      sb AS (
        SELECT t.tix AS tj, COALESCE(b.x, 0) AS xb
        FROM tixed t LEFT JOIN (
          SELECT h, x FROM hourly WHERE event_type = 'purchase') b
          USING (h)),
      lags AS (SELECT unnest(range(-12, 13)) AS k),
      j AS (
        SELECT l.k, COUNT(*) AS n_pairs,
               CAST(SUM(a.xa * b.xb) AS BIGINT) AS sab,
               CAST(SUM(a.xa) AS BIGINT) AS sa,
               CAST(SUM(b.xb) AS BIGINT) AS sb,
               CAST(SUM(a.xa * a.xa) AS BIGINT) AS saa,
               CAST(SUM(b.xb * b.xb) AS BIGINT) AS sbb
        FROM sa a CROSS JOIN lags l JOIN sb b ON b.tj = a.tix + l.k
        GROUP BY l.k)
      SELECT k AS lag, n_pairs,
             ROUND(CAST(n_pairs * sab - sa * sb AS DOUBLE) /
                   SQRT(CAST(n_pairs * saa - sa * sa AS DOUBLE) *
                        CAST(n_pairs * sbb - sb * sb AS DOUBLE)), 6)
               AS r
      FROM j ORDER BY lag"""))

  /** Largest-Triangle-Three-Buckets downsampling of the hourly event
    * series to ~60 visually-representative points — the what-does-a-
    * year-of-telemetry-look-like operator behind every dashboard that
    * cannot ship 10⁶ points to a browser. Classic LTTB chains each
    * bucket's pick to the PREVIOUS pick (inherently sequential), so
    * the engine implements the parallel mean-anchor variant: each
    * interior bucket keeps the point maximizing the triangle area
    * against the MEAN of the previous bucket and the MEAN of the next
    * bucket; the global first/last points are kept verbatim (the LTTB
    * edge rule). Dropping the pick-chain is what makes the operator
    * one window pass instead of a driver loop — the standard
    * large-scale LTTB decomposition.
    *
    * Exactness: with P=(Σt,Σx,n_p) the prev anchor sums, Q likewise
    * next, and candidate B=(t,x), the doubled area scaled by n_p·n_q,
    *   |（Pt−t·n_p)(Qx−x·n_q) − (Px−x·n_p)(Qt−t·n_q)|,
    * is pure BIGINT — no float ever enters the ranking, so the
    * argmax (area DESC, t ASC) is total and both engines pick
    * identical points. Buckets assign by integer `tix*60 div span`.
    *
    * Scale shape: one hourly count exchange, one bucket aggregate
    * (60 rows) with lag/lead anchors on the bounded bucket table, a
    * bucket-keyed join back, and a per-bucket (never global) argmax
    * window. The raw series crosses the wire once. */
  val qTsLttb = Q(
    "q_ts_lttb",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
      val span = hourly.agg(min(col("h")).as("h0"),
        unix_micros(max(col("h"))).as("u1"))
      val pts = hourly.crossJoin(broadcast(span))
        .select(
          expr("(unix_micros(h) - unix_micros(h0)) div 3600000000")
            .as("tix"),
          expr("(u1 - unix_micros(h0)) div 3600000000 + 1").as("ntix"),
          col("h"), col("x"))
        .select(col("tix"), col("h"), col("x"),
          expr("tix * 60 div ntix").as("b"))
      // Neighbor anchors WITHOUT a partition-less window: the ≤60-row
      // bucket table (b ∈ [0,59] by construction; limit(61) states
      // the bound mechanically) collapses to ONE sorted array row,
      // prev/next context is array indexing inside codegen, and
      // explode rebuilds the bounded ctx table.
      val anchors = pts.groupBy(col("b"))
        .agg(sum(col("tix")).as("st"), sum(col("x")).as("sx"),
          count(lit(1)).as("n"))
        .limit(61)
        .agg(sort_array(collect_list(struct(
          col("b"), col("st"), col("sx"), col("n")))).as("a"))
      val ctx = anchors
        .select(col("a"), posexplode(col("a")).as(Seq("i", "c")))
        .select(col("c.b").as("b"),
          expr("try_element_at(a, nullif(i, 0))").as("p"),
          expr("try_element_at(a, i + 2)").as("q"))
        .select(col("b"), col("p.st").as("pt"), col("p.sx").as("px"),
          col("p.n").as("pn"), col("q.st").as("qt"),
          col("q.sx").as("qx"), col("q.n").as("qn"))
      val lim = pts.agg(min(col("b")).as("b_lo"), max(col("b")).as("b_hi"))
      val tagged = pts.crossJoin(broadcast(lim))
      val interior = tagged
        .filter(col("b") =!= col("b_lo") && col("b") =!= col("b_hi"))
        .join(broadcast(ctx), Seq("b"))
        .withColumn("area2", abs(
          (col("pt") - col("tix") * col("pn")) *
            (col("qx") - col("x") * col("qn")) -
          (col("px") - col("x") * col("pn")) *
            (col("qt") - col("tix") * col("qn"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("b")).orderBy(
            col("area2").desc, col("tix"))))
        .filter(col("rn") === 1)
        .select(col("b"), col("tix"), col("h"), col("x"), col("area2"))
      val edges = tagged
        .filter(col("b") === col("b_lo") || col("b") === col("b_hi"))
        .groupBy(col("b"))
        .agg(min_by(struct(col("tix"), col("h"), col("x")),
          when(col("b") === col("b_lo"), col("tix"))
            .otherwise(-col("tix"))).as("pick"))
        .select(col("b"), col("pick.tix").as("tix"),
          col("pick.h").as("h"), col("pick.x").as("x"),
          lit(null).cast("long").as("area2"))
      interior.unionByName(edges).orderBy(col("b"))
    },
    Some("""
      WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, COUNT(*) AS x
        FROM events GROUP BY 1),
      span AS (
        SELECT MIN(h) AS h0, epoch_us(MAX(h)) AS u1 FROM hourly),
      pts AS (
        SELECT (epoch_us(h) - epoch_us(h0)) // 3600000000 AS tix,
               h, x,
               ((epoch_us(h) - epoch_us(h0)) // 3600000000) * 60 //
                 ((u1 - epoch_us(h0)) // 3600000000 + 1) AS b
        FROM hourly CROSS JOIN span),
      anchors AS (
        SELECT b, CAST(SUM(tix) AS BIGINT) AS st,
               CAST(SUM(x) AS BIGINT) AS sx, COUNT(*) AS n
        FROM pts GROUP BY b),
      ctx AS (
        SELECT b,
               LAG(st, 1) OVER w AS pt, LAG(sx, 1) OVER w AS px,
               LAG(n, 1) OVER w AS pn,
               LEAD(st, 1) OVER w AS qt, LEAD(sx, 1) OVER w AS qx,
               LEAD(n, 1) OVER w AS qn
        FROM anchors WINDOW w AS (ORDER BY b)),
      lim AS (SELECT MIN(b) AS b_lo, MAX(b) AS b_hi FROM pts),
      scored AS (
        SELECT p.b, p.tix, p.h, p.x,
               CASE WHEN p.b = l.b_lo OR p.b = l.b_hi
                    THEN CAST(NULL AS BIGINT)
                    ELSE abs((c.pt - p.tix * c.pn) * (c.qx - p.x * c.qn)
                           - (c.px - p.x * c.pn) * (c.qt - p.tix * c.qn))
               END AS area2,
               l.b_lo, l.b_hi
        FROM pts p JOIN ctx c USING (b) CROSS JOIN lim l),
      ranked AS (
        SELECT b, tix, h, x, area2, b_lo, b_hi,
               ROW_NUMBER() OVER (PARTITION BY b
                 ORDER BY area2 DESC NULLS LAST, tix) AS rn,
               ROW_NUMBER() OVER (PARTITION BY b
                 ORDER BY CASE WHEN b = b_lo THEN tix ELSE -tix END)
                 AS edge_rank
        FROM scored)
      SELECT b, tix, h, x, area2 FROM ranked
      WHERE CASE WHEN b = b_lo OR b = b_hi THEN edge_rank = 1
                 ELSE rn = 1 END
      ORDER BY b"""))

  /** Forecast-model backtest over the hourly event series — holds out
    * the final week and scores two deterministic forecasters on it:
    * NAIVE (tomorrow looks like the last observed hour, x(t−1)) vs
    * SEASONAL-NAIVE (tomorrow looks like the same hour last week,
    * x(t−168)) — the two baselines every forecasting deployment must
    * beat, and the model-selection readout ("is this series seasonal
    * enough that lag-168 beats lag-1?") that decides which one ships.
    * Per event type: holdout size, both SUM-of-absolute-error totals
    * (exact BIGINT — counts in, integers out), both MAEs as rounded
    * doubles, and the winner flag.
    *
    * Scale shape: the zero-filled per-type hourly spine
    * ([[hourlySeriesByType]]) indexes by integer hour; both forecast
    * alignments are (event_type, tix) equi-joins of the spine against
    * itself shifted +1 / +168 — no window, no explode; the spine
    * persists for its three consumers and everything lands on the
    * bounded event-type key. */
  val qTsForecast = Q(
    "q_ts_forecast",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val series = hourlySeriesByType(s, dir)
      val base = series.groupBy(col("event_type"))
        .agg(unix_micros(min(col("h"))).as("u0"),
          unix_micros(max(col("h"))).as("u1"))
      val st = series.join(base, Seq("event_type"))
        .select(col("event_type"),
          expr("(unix_micros(h) - u0) div 3600000000").as("tix"),
          expr("(u1 - u0) div 3600000000").as("mxtix"), col("x"))
        .persist(MEMORY_AND_DISK)
      val test = st.filter(col("tix") > col("mxtix") - 168 &&
        col("tix") >= 168)
      val lag1 = st.select(col("event_type"),
        (col("tix") + 1).as("tix"), col("x").as("x1"))
      val lag168 = st.select(col("event_type"),
        (col("tix") + 168).as("tix"), col("x").as("x168"))
      val result = test
        .join(lag1, Seq("event_type", "tix"))
        .join(lag168, Seq("event_type", "tix"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_test"),
          sum(abs(col("x") - col("x1"))).as("sae_naive"),
          sum(abs(col("x") - col("x168"))).as("sae_snaive"))
        .select(col("event_type"), col("n_test"),
          col("sae_naive"), col("sae_snaive"),
          round(col("sae_naive").cast("double") /
            col("n_test").cast("double"), 6).as("mae_naive"),
          round(col("sae_snaive").cast("double") /
            col("n_test").cast("double"), 6).as("mae_snaive"),
          (col("sae_snaive") < col("sae_naive")).as("seasonal_wins"))
        .orderBy(col("event_type"))
      QueryScopedCache.releaseAfter(result, Seq(st))
    },
    Some(s"""
      WITH ${hourlySeriesByTypeSql},
      base AS (
        SELECT event_type, epoch_us(MIN(h)) AS u0, epoch_us(MAX(h)) AS u1
        FROM series GROUP BY 1),
      st AS (
        SELECT s.event_type,
               (epoch_us(s.h) - b.u0) // 3600000000 AS tix,
               (b.u1 - b.u0) // 3600000000 AS mxtix, s.x
        FROM series s JOIN base b USING (event_type)),
      test AS (
        SELECT * FROM st WHERE tix > mxtix - 168 AND tix >= 168),
      j AS (
        SELECT t.event_type, COUNT(*) AS n_test,
               CAST(SUM(abs(t.x - a.x)) AS BIGINT) AS sae_naive,
               CAST(SUM(abs(t.x - b.x)) AS BIGINT) AS sae_snaive
        FROM test t
        JOIN st a ON a.event_type = t.event_type AND a.tix = t.tix - 1
        JOIN st b ON b.event_type = t.event_type AND b.tix = t.tix - 168
        GROUP BY 1)
      SELECT event_type, n_test, sae_naive, sae_snaive,
             ROUND(CAST(sae_naive AS DOUBLE) /
                   CAST(n_test AS DOUBLE), 6) AS mae_naive,
             ROUND(CAST(sae_snaive AS DOUBLE) /
                   CAST(n_test AS DOUBLE), 6) AS mae_snaive,
             sae_snaive < sae_naive AS seasonal_wins
      FROM j ORDER BY event_type"""))

  /** Series-completeness audit — per event type: how many hours the
    * observed span covers, how many actually have data, the coverage
    * fraction, and the LONGEST consecutive outage in hours — the
    * monitoring-feed SLA readout ("is this source streaming, and how
    * bad was its worst gap") that decides whether downstream hourly
    * models ([[qTsForecast]], [[qTsAnomalySeasonal]]) can trust the
    * spine. The gaps-and-islands cousin of [[qTsGapfill]]: gap-fill
    * DENSIFIES the holes, this MEASURES them.
    *
    * All integers except the one rounded coverage division: hour
    * indexes come from the per-type extrema broadcast, the outage run
    * length is `tix − lag(tix) − 1` on the observed-hour table (one
    * type-partitioned window, never global), and the rollup rides the
    * same keying. One exchange of distinct (type, hour) rows total. */
  val qTsCompleteness = Q(
    "q_ts_completeness",
    (s, dir) => {
      val hx = t(s, dir, "events")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .distinct()
      val base = hx.groupBy(col("event_type"))
        .agg(unix_micros(min(col("h"))).as("u0"),
          unix_micros(max(col("h"))).as("u1"))
      val tix = hx.join(base, Seq("event_type"))
        .select(col("event_type"),
          expr("(unix_micros(h) - u0) div 3600000000").as("tix"),
          expr("(u1 - u0) div 3600000000 + 1").as("span_hours"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("tix"))
      tix
        .withColumn("gap", col("tix") - lag(col("tix"), 1).over(w) - 1)
        .groupBy(col("event_type"))
        .agg(max(col("span_hours")).as("span_hours"),
          count(lit(1)).as("observed_hours"),
          coalesce(max(when(col("gap") > 0, col("gap"))), lit(0L))
            .as("longest_gap_h"))
        .select(col("event_type"), col("span_hours"),
          col("observed_hours"),
          round(col("observed_hours").cast("double") /
            col("span_hours").cast("double"), 6).as("coverage_frac"),
          col("longest_gap_h"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH hx AS (
        SELECT DISTINCT event_type, date_trunc('hour', ts) AS h
        FROM events),
      base AS (
        SELECT event_type, epoch_us(MIN(h)) AS u0, epoch_us(MAX(h)) AS u1
        FROM hx GROUP BY 1),
      tix AS (
        SELECT x.event_type,
               (epoch_us(x.h) - b.u0) // 3600000000 AS tix,
               (b.u1 - b.u0) // 3600000000 + 1 AS span_hours
        FROM hx x JOIN base b USING (event_type)),
      gaps AS (
        SELECT event_type, span_hours, tix,
               tix - LAG(tix, 1) OVER (PARTITION BY event_type
                 ORDER BY tix) - 1 AS gap
        FROM tix)
      SELECT event_type, CAST(MAX(span_hours) AS BIGINT) AS span_hours,
             COUNT(*) AS observed_hours,
             ROUND(CAST(COUNT(*) AS DOUBLE) /
                   CAST(MAX(span_hours) AS DOUBLE), 6) AS coverage_frac,
             CAST(COALESCE(MAX(CASE WHEN gap > 0 THEN gap END), 0)
               AS BIGINT) AS longest_gap_h
      FROM gaps GROUP BY event_type ORDER BY event_type"""))

  /** Maximum drawdown — the peak-to-trough risk statistic over each
    * priority class's DAILY revenue series: track the running peak of
    * daily cents in date order and report the deepest drop below it,
    * with the day it bottomed and the peak it fell from. The
    * monitoring primitive behind "how far below its best has this
    * feed fallen" alerts — a different question from [[qTsCusum]]
    * (persistent mean shift) or [[qTsAnomalySeasonal]] (point
    * outliers): drawdown is cumulative damage relative to the best
    * seen. All BIGINT cents; earliest-day tiebreak makes the argmin
    * row unique.
    *
    * Scale shape: one (priority, day) rollup, then ONE
    * priority-keyed exchange carries the running-max window, the
    * drawdown ranking, and the final pick — bounded per-group state. */
  val qTsDrawdown = Q(
    "q_ts_drawdown",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("g"),
          date_trunc("day", col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("rev_c"))
      val wSeq = Window.partitionBy(col("g")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPick = Window.partitionBy(col("g"))
        .orderBy(col("dd_c").desc, col("day"))
      daily
        .withColumn("peak_c", max(col("rev_c")).over(wSeq))
        .withColumn("dd_c", col("peak_c") - col("rev_c"))
        .withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .select(col("g").as("o_orderpriority"), col("day").as("trough_day"),
          col("rev_c").as("trough_c"), col("peak_c"), col("dd_c")
            .as("max_drawdown_c"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      WITH daily AS (
        SELECT o_orderpriority AS g, date_trunc('day', o_orderdate)
                 AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS rev_c
        FROM orders GROUP BY 1, 2),
      walked AS (
        SELECT g, day, rev_c,
               MAX(rev_c) OVER (PARTITION BY g ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS peak_c
        FROM daily),
      ranked AS (
        SELECT g, day, rev_c, peak_c, peak_c - rev_c AS dd_c,
               ROW_NUMBER() OVER (PARTITION BY g
                 ORDER BY peak_c - rev_c DESC, day) AS rk
        FROM walked)
      SELECT g AS o_orderpriority, day AS trough_day,
             rev_c AS trough_c, peak_c, dd_c AS max_drawdown_c
      FROM ranked WHERE rk = 1
      ORDER BY o_orderpriority"""))

  /** Holt double exponential smoothing — [[qTsEwma]] tracks LEVEL
    * only and lags any trending series by construction; Holt carries
    * a second TREND state (α = β = ¼): lₜ = ⌊(yₜ + 3(lₜ₋₁+bₜ₋₁))/4⌋,
    * bₜ = ⌊((lₜ−lₜ₋₁) + 3bₜ₋₁)/4⌋, forecast h steps out = l + h·b —
    * the capacity-forecast workhorse between naive EWMA and the
    * seasonal backtest ([[qTsForecast]]). The recurrence feeds its
    * own output (two coupled states), so the engine runs the
    * secondary-sort pattern with TWO longs of state per series and
    * the oracle steps the identical recurrence in a recursive CTE —
    * with TRUNCATING division on both sides (Java `/` in the scan ≡
    * DuckDB's `//`, both toward zero — measured, not assumed: DuckDB
    * -7 // 4 = -1; a floorDiv on one side would diverge the moment a
    * trend goes negative). All BIGINT kilodollars.
    *
    * Scale shape: one (series, month) rollup, one series-keyed
    * exchange, one ordered O(1)-state pass; oracle recursion depth =
    * months per series (bounded at the gate SFs; the ENGINE never
    * depends on it). */
  val qTsHolt = Q(
    "q_ts_holt",
    (s, dir) => {
      import s.implicits._
      val monthly = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("g"),
          ((year(col("o_orderdate")) - 1992) * 12 +
            month(col("o_orderdate")) - 1).cast("long").as("x"))
        .agg(sum(round(col("o_totalprice") / 1000).cast("long"))
          .as("y"))
      monthly.repartition(col("g"))
        .sortWithinPartitions(col("g"), col("x"))
        .as[HoltIn]
        .mapPartitions { it =>
          var cur: String = null
          var l = 0L; var b = 0L; var n = 0L; var started = false
          def out = HoltOut(cur, n, l, b, l + b, l + 2 * b, l + 3 * b)
          (it.map(Some(_)) ++ Iterator(None)).flatMap {
            case None =>
              if (started) Iterator.single(out) else Iterator.empty
            case Some(r) =>
              val flush =
                if (started && r.g != cur) Iterator.single(out)
                else Iterator.empty
              if (!started || r.g != cur) {
                cur = r.g; l = r.y; b = 0L; n = 1L; started = true
              } else {
                val lp = l
                l = (r.y + 3L * (l + b)) / 4L
                b = ((l - lp) + 3L * b) / 4L
                n += 1L
              }
              flush
          }
        }
        .toDF()
        .orderBy(col("g"))
    },
    Some("""
      WITH RECURSIVE monthly AS (
        SELECT o_orderpriority AS g,
               CAST((year(o_orderdate) - 1992) * 12
                 + month(o_orderdate) - 1 AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(o_totalprice / 1000) AS BIGINT))
                 AS BIGINT) AS y,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                 ORDER BY CAST((year(o_orderdate) - 1992) * 12
                   + month(o_orderdate) - 1 AS BIGINT)) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS nm
        FROM orders GROUP BY 1, 2),
      walk AS (
        SELECT g, rn, nm, y AS l, CAST(0 AS BIGINT) AS b
        FROM monthly WHERE rn = 1
        UNION ALL
        SELECT m.g, m.rn, m.nm,
               (m.y + 3 * (w.l + w.b)) // 4,
               (((m.y + 3 * (w.l + w.b)) // 4) - w.l + 3 * w.b) // 4
        FROM walk w JOIN monthly m
          ON m.g = w.g AND m.rn = w.rn + 1)
      SELECT g, CAST(nm AS BIGINT) AS n_months, l AS level_c,
             b AS trend_c, l + b AS f1_c, l + 2 * b AS f2_c,
             l + 3 * b AS f3_c
      FROM walk WHERE rn = nm
      ORDER BY g"""))


  /** Registry consumed by RelationalQueries.all. */
  /** Per-(type, segment) CUSUM peak over a tagged hourly frame — the
    * [[qTsCusum]] machinery with a segment key: per (event_type,
    * seg), the hour where the cumulative deviation from the
    * SEGMENT's own rational mean peaks in magnitude (n_seg·x − S_seg
    * keeps everything BIGINT-exact), earliest hour on ties. Windows
    * ride the bounded zero-filled hourly frame (aggregated below —
    * lint-safe); the cum frame persists for its two consumers and is
    * released after the caller's first action. */
  private def segCusumPeaks(tagged: DataFrame): DataFrame = {
    val tots = tagged.groupBy(col("event_type"), col("seg"))
      .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("total_events"),
        min(col("h")).as("seg_start"), max(col("h")).as("seg_end"))
    val wRun = Window.partitionBy(col("event_type"), col("seg"))
      .orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"), col("seg"))
    val cum = tagged.join(broadcast(tots), Seq("event_type", "seg"))
      .withColumn("cum",
        sum(col("n_hours") * col("x") - col("total_events")).over(wRun))
      .withColumn("mx", max(abs(col("cum"))).over(wAll))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val peaks = cum.filter(abs(col("cum")) === col("mx"))
      .groupBy(col("event_type"), col("seg"))
      .agg(min(col("h")).as("peak_h"))
    val out = cum.join(peaks.withColumnRenamed("peak_h", "ph"),
        Seq("event_type", "seg"))
      .filter(col("h") === col("ph"))
      .select(col("event_type"), col("seg"), col("seg_start"),
        col("seg_end"), col("n_hours"), col("h").as("peak_h"),
        col("cum").as("cusum_peak"))
    QueryScopedCache.releaseAfter(out, Seq(cum))
  }

  /** Binary-segmentation changepoint screen — TWO levels of CUSUM:
    * the [[qTsCusum]] full-series peak splits each type's hourly
    * series, then each HALF gets its own segment-local CUSUM peak
    * against the segment's own mean — the classic top-down
    * changepoint recursion (two steps of it), finding the secondary
    * level shifts the global statistic absorbs. Emits one row per
    * (type, segment ∈ {full, left, right}) with the segment span,
    * peak hour, and exact BIGINT peak statistic; a right segment is
    * absent when the full peak is the last hour (both engines
    * alike).
    *
    * Scale shape: the corpus-scale work is the ONE hourly count
    * exchange behind the shared zero-filled series; both recursion
    * levels are bounded-frame window walks over the per-type hourly
    * grid, the split point rides a broadcast ≤|types|-row join —
    * recursion depth adds bounded passes, never corpus scans. */
  val qTsChangepoint2 = Q(
    "q_ts_changepoint2",
    (s, dir) => {
      val series = hourlySeriesByType(s, dir)
      val full = segCusumPeaks(series.withColumn("seg", lit("full")))
      val split = series.join(
          broadcast(full.select(col("event_type"),
            col("peak_h").as("split_h"))),
          Seq("event_type"))
        .withColumn("seg", when(col("h") <= col("split_h"), lit("left"))
          .otherwise(lit("right")))
        .select(col("event_type"), col("seg"), col("h"), col("x"))
      val halves = segCusumPeaks(split)
      full.unionByName(halves)
        .orderBy(col("event_type"), col("seg"))
    },
    Some(s"""
      WITH ${hourlySeriesByTypeSql},
      ftots AS (
        SELECT event_type, COUNT(*) AS n_hours,
               CAST(SUM(x) AS BIGINT) AS total_events,
               MIN(h) AS seg_start, MAX(h) AS seg_end
        FROM series GROUP BY event_type),
      fcum AS (
        SELECT s.event_type, s.h, t.n_hours, t.total_events,
               t.seg_start, t.seg_end,
               CAST(SUM(t.n_hours * s.x - t.total_events) OVER (
                 PARTITION BY s.event_type ORDER BY s.h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
        FROM series s JOIN ftots t USING (event_type)),
      fmx AS (
        SELECT event_type, MAX(ABS(cum)) AS m FROM fcum GROUP BY 1),
      fpeak AS (
        SELECT c.event_type, MIN(c.h) AS peak_h
        FROM fcum c JOIN fmx USING (event_type)
        WHERE ABS(c.cum) = fmx.m GROUP BY c.event_type),
      frow AS (
        SELECT c.event_type, 'full' AS seg, c.seg_start, c.seg_end,
               c.n_hours, c.h AS peak_h, c.cum AS cusum_peak
        FROM fcum c JOIN fpeak p
          ON c.event_type = p.event_type AND c.h = p.peak_h),
      tagged AS (
        SELECT s.event_type,
               CASE WHEN s.h <= p.peak_h THEN 'left' ELSE 'right' END
                 AS seg,
               s.h, s.x
        FROM series s JOIN fpeak p USING (event_type)),
      stots AS (
        SELECT event_type, seg, COUNT(*) AS n_hours,
               CAST(SUM(x) AS BIGINT) AS total_events,
               MIN(h) AS seg_start, MAX(h) AS seg_end
        FROM tagged GROUP BY 1, 2),
      scum AS (
        SELECT g.event_type, g.seg, g.h, t.n_hours, t.total_events,
               t.seg_start, t.seg_end,
               CAST(SUM(t.n_hours * g.x - t.total_events) OVER (
                 PARTITION BY g.event_type, g.seg ORDER BY g.h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
        FROM tagged g JOIN stots t USING (event_type, seg)),
      smx AS (
        SELECT event_type, seg, MAX(ABS(cum)) AS m
        FROM scum GROUP BY 1, 2),
      speak AS (
        SELECT c.event_type, c.seg, MIN(c.h) AS peak_h
        FROM scum c JOIN smx USING (event_type, seg)
        WHERE ABS(c.cum) = smx.m GROUP BY c.event_type, c.seg),
      srow AS (
        SELECT c.event_type, c.seg, c.seg_start, c.seg_end,
               c.n_hours, c.h AS peak_h, c.cum AS cusum_peak
        FROM scum c JOIN speak p
          ON c.event_type = p.event_type AND c.seg = p.seg
             AND c.h = p.peak_h)
      SELECT event_type, seg, seg_start, seg_end, n_hours, peak_h,
             cusum_peak
      FROM (SELECT * FROM frow UNION ALL SELECT * FROM srow)
      ORDER BY event_type, seg"""))

  val all: Seq[Q] = Seq(qTsGapfill,
    qTsEwma,
    qTsOhlc,
    qTsAcf,
    qTsCusum,
    qTsSeasonality,
    qTsAnomalySeasonal,
    qTsXcorr,
    qTsLttb,
    qTsForecast,
    qTsCompleteness,
    qTsDrawdown,
    qTsHolt,
    qTsChangepoint2)
}
