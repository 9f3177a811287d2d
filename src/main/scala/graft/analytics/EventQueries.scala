package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Behavioral event analytics over the `events` stream table — the
  * ordered-sequence operator family (funnel, cohort retention) that
  * product analytics engines treat as first-class and plain GROUP BY
  * cannot express directly: both need "earliest X AFTER the user's
  * earliest Y" sequencing per user.
  *
  * Scale shape: everything here is keyed on user_id — the funnel's
  * three stage resolutions and retention's first-touch derivation are
  * successive aggregations/joins on the SAME key, so Catalyst reuses
  * one hash partitioning across the chain (no re-shuffle between
  * stages; the user-keyed exchange is the only corpus-scale movement,
  * and per-user state is a handful of timestamps, never the event
  * list). Final rollups land on tiny keys (stage / cohort-day). */
object EventQueries {
  import RelationalQueries.Q

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")

  /** Three-stage funnel view → click → purchase with STRICT temporal
    * ordering per user (the click must follow that user's FIRST view,
    * the purchase that user's first qualifying click — the standard
    * product-funnel semantics, not mere per-type existence). Output:
    * one row per stage with the surviving-user count and the
    * conversion rate from stage 1.
    *
    * Sequencing is resolved by iterated conditional aggregation —
    * stage N+1's candidate events filter on stage N's resolved
    * timestamp after a user-keyed join — which is exactly how the
    * semantics distribute: no per-user event-list collection, no
    * window over the whole event stream. */
  val qEventsFunnel = Q(
    "q_events_funnel",
    (s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val s1 = e.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("t1"))
        .filter(col("t1").isNotNull)
      val s2 = e.join(s1, "user_id")
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).as("t2"))
        .filter(col("t2").isNotNull)
      val s3 = e.join(s2, "user_id")
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "purchase" &&
          col("ts") > col("t2"), col("ts"))).as("t3"))
        .filter(col("t3").isNotNull)
      val counts = s1.agg(count(lit(1)).as("n")).select(lit(1L).as("stage"),
          lit("view").as("event_type"), col("n"))
        .union(s2.agg(count(lit(1)).as("n")).select(lit(2L).as("stage"),
          lit("click").as("event_type"), col("n")))
        .union(s3.agg(count(lit(1)).as("n")).select(lit(3L).as("stage"),
          lit("purchase").as("event_type"), col("n")))
      val base = s1.agg(count(lit(1)).cast("long").as("n_base"))
      counts.crossJoin(broadcast(base))
        .select(col("stage"), col("event_type"), col("n").as("n_users"),
          round(col("n") * lit(1.0) / col("n_base"), 6).as("conversion"))
        .orderBy(col("stage"))
    },
    Some("""
      WITH e AS (SELECT user_id, event_type, ts FROM events),
      s1 AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM e GROUP BY user_id
        HAVING MIN(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL),
      s2 AS (
        SELECT e.user_id,
               MIN(CASE WHEN event_type = 'click' AND ts > t1
                   THEN ts END) AS t2
        FROM e JOIN s1 USING (user_id) GROUP BY e.user_id
        HAVING MIN(CASE WHEN event_type = 'click' AND ts > t1
                   THEN ts END) IS NOT NULL),
      s3 AS (
        SELECT e.user_id,
               MIN(CASE WHEN event_type = 'purchase' AND ts > t2
                   THEN ts END) AS t3
        FROM e JOIN s2 USING (user_id) GROUP BY e.user_id
        HAVING MIN(CASE WHEN event_type = 'purchase' AND ts > t2
                   THEN ts END) IS NOT NULL),
      counts AS (
        SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
               COUNT(*) AS n FROM s1
        UNION ALL
        SELECT 2, 'click', COUNT(*) FROM s2
        UNION ALL
        SELECT 3, 'purchase', COUNT(*) FROM s3),
      base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_base FROM s1)
      SELECT stage, event_type, n AS n_users,
             ROUND(n * 1.0 / n_base, 6) AS conversion
      FROM counts CROSS JOIN base ORDER BY stage"""))

  /** Day-grain cohort retention: users cohort by their FIRST-seen day;
    * a cohort's retention at offset d = the share of its users active
    * d days later (offsets 1, 3, 7 — the product-analytics staples).
    * Output (cohort_day, day_offset, n_cohort, n_active, retention).
    *
    * The distributed shape: distinct (user, day) activity first (one
    * user-keyed reduction that also yields the first-touch day), then
    * offsets from a user-keyed join — per-user state is its day SET
    * compressed to distinct rows, never the raw events. Cohort-day
    * rollups are calendar-bounded keys. */
  val qEventsRetention = Q(
    "q_events_retention",
    (s, dir) => {
      val days = ev(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
      val first = days.groupBy(col("user_id"))
        .agg(min(col("d")).as("cohort_day"))
      val cohortSize = first.groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("n_cohort"))
      val offsets = days.join(first, "user_id")
        .select(col("cohort_day"),
          datediff(col("d"), col("cohort_day")).cast("long")
            .as("day_offset"))
        .filter(col("day_offset").isInCollection(Seq(1L, 3L, 7L)))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_active"))
      offsets.join(cohortSize, "cohort_day")
        .select(col("cohort_day"), col("day_offset"), col("n_cohort"),
          col("n_active"),
          round(col("n_active") * lit(1.0) / col("n_cohort"), 6)
            .as("retention"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      first AS (
        SELECT user_id, MIN(d) AS cohort_day FROM days GROUP BY user_id),
      cohort_size AS (
        SELECT cohort_day, COUNT(*) AS n_cohort FROM first
        GROUP BY cohort_day),
      offsets AS (
        SELECT f.cohort_day,
               CAST(date_diff('day', f.cohort_day, d.d) AS BIGINT)
                 AS day_offset,
               COUNT(*) AS n_active
        FROM days d JOIN first f USING (user_id)
        WHERE date_diff('day', f.cohort_day, d.d) IN (1, 3, 7)
        GROUP BY f.cohort_day, date_diff('day', f.cohort_day, d.d))
      SELECT o.cohort_day, o.day_offset, c.n_cohort, o.n_active,
             ROUND(o.n_active * 1.0 / c.n_cohort, 6) AS retention
      FROM offsets o JOIN cohort_size c USING (cohort_day)
      ORDER BY o.cohort_day, o.day_offset"""))

  /** First-order Markov transition matrix over per-user event
    * sequences: for every ordered pair of CONSECUTIVE events by the
    * same user, count the (prev_type → next_type) transition and its
    * row-normalized probability — the statistic behind "what do users
    * do after X" product questions, next-event prediction baselines,
    * and anomaly scoring of session flows.
    *
    * Ordering is total — (ts, event_id) — so the per-user sequence is
    * engine-independent even under timestamp ties. Scale shape: the
    * ONE corpus-scale movement is the user-keyed window exchange
    * (bounded per-user partitions — a user's own event count); the
    * pair aggregation shrinks the stream to ≤ |event_types|² keys, and
    * the row-normalizing second window runs on that tiny frame,
    * partitioned by prev_type (never partition-less). */
  val qEventsTransitions = Q(
    "q_events_transitions",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val seqW = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = ev(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(seqW))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val rowW = Window.partitionBy(col("prev_type"))
      pairs
        .select(col("prev_type"), col("next_type"), col("n"),
          sum(col("n")).over(rowW).as("n_from"))
        .select(col("prev_type"), col("next_type"), col("n"), col("n_from"),
          round(col("n") * lit(1.0) / col("n_from"), 6).as("p"))
        .orderBy(col("prev_type"), col("next_type"))
    },
    Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events),
      t AS (
        SELECT event_type AS prev_type, next_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
      SELECT prev_type, next_type, n,
             CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from,
             ROUND(n * 1.0 /
               CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT), 6) AS p
      FROM t ORDER BY prev_type, next_type"""))

  /** Rolling anomaly detection on the event stream: per event type,
    * each hourly bucket is scored against the 24 OBSERVED buckets
    * before it, and flagged when it deviates more than two sample
    * standard deviations from that trailing baseline — the ops-metric
    * spike detector, windowed so the baseline adapts to drift.
    *
    * The z-score test runs in EXACT integer algebra: with m = frame
    * size, s1 = Σx, s2 = Σx², the condition z² > 4 cross-multiplies to
    * `(m·x − s1)²·(m−1) > 4·m·(m·s2 − s1²)` — counts are integers, so
    * both sides are BIGINT-exact in any engine and the flag needs no
    * float variance parity (the [[GraphQueries.pagerank]] discipline
    * applied to second moments). Warmup rows (fewer than 24 trailing
    * buckets) are excluded rather than scored against a short frame.
    *
    * Scale shape: the corpus-scale event stream collapses to
    * (type, hour) buckets in one map-side-combining aggregation; the
    * rolling window runs on that calendar-bounded frame, partitioned
    * by event type (never partition-less — and a year of hours is 8 760
    * rows per type, driver-safe by construction). */
  val qEventsAnomaly = Q(
    "q_events_anomaly",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = ev(s, dir)
        .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("w.start").as("bucket"), col("n"))
      val fr = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(-24, -1)
      hourly
        .select(col("event_type"), col("bucket"), col("n"),
          count(col("n")).over(fr).as("m"),
          sum(col("n")).over(fr).as("s1"),
          sum(col("n") * col("n")).over(fr).as("s2"))
        .filter(col("m") === 24)
        .select(col("event_type"), col("bucket"), col("n"),
          expr("CAST(s1 * 1000000 DIV m AS BIGINT)").as("mean_micro"),
          expr("""(m * n - s1) * (m * n - s1) * (m - 1) >
                  4 * m * (m * s2 - s1 * s1)""").as("is_anomaly"))
        .orderBy(col("event_type"), col("bucket"))
    },
    Some("""
      WITH hourly AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      st AS (
        SELECT event_type, bucket, n,
               COUNT(n) OVER fr AS m,
               CAST(SUM(n) OVER fr AS BIGINT) AS s1,
               CAST(SUM(n * n) OVER fr AS BIGINT) AS s2
        FROM hourly
        WINDOW fr AS (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      SELECT event_type, bucket, n,
             CAST(s1 * 1000000 // m AS BIGINT) AS mean_micro,
             (m * n - s1) * (m * n - s1) * (m - 1) >
               4 * m * (m * s2 - s1 * s1) AS is_anomaly
      FROM st WHERE m = 24 ORDER BY event_type, bucket"""))

  /** Sequential path mining: the 20 most common three-step event-type
    * paths walked by users (consecutive triples under the same total
    * (ts, event_id) order as [[qEventsTransitions]]) — the n-gram
    * generalization of the transition matrix, and the flat core of
    * "common journeys" / behavioral-motif analysis.
    *
    * Scale shape: the same single user-keyed window exchange as the
    * transition matrix (two LEADs over one window spec share one
    * physical Window), then the triple aggregation collapses to at
    * most |event_types|³ keys before a TakeOrdered(20) — no second
    * corpus-scale movement, no per-user sequence collection. */
  val qEventsPaths = Q(
    "q_events_paths",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val seqW = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("t2", lead(col("event_type"), 1).over(seqW))
        .withColumn("t3", lead(col("event_type"), 2).over(seqW))
        .filter(col("t3").isNotNull)
        .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3")).limit(20)
        .agg(sort_array(collect_list(struct((-col("n")).as("negn"),
          col("t1"), col("t2"), col("t3")))).as("ts"))
        .select(posexplode(col("ts")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("col.t1").as("t1"), col("col.t2").as("t2"),
          col("col.t3").as("t3"), (-col("col.negn")).as("n"))
        .orderBy(col("rank"))
    },
    Some("""
      WITH seq AS (
        SELECT user_id, event_type AS t1,
               LEAD(event_type, 1) OVER w AS t2,
               LEAD(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      paths AS (
        SELECT t1, t2, t3, COUNT(*) AS n
        FROM seq WHERE t3 IS NOT NULL GROUP BY 1, 2, 3)
      SELECT rank, t1, t2, t3, n FROM (
        SELECT t1, t2, t3, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, t1, t2, t3) AS rank
        FROM paths) x
      WHERE rank <= 20 ORDER BY rank"""))

  /** Multi-touch attribution: for every purchase, resolve the user's
    * FIRST and LAST preceding touch (click/view) plus the touch count
    * — first-touch / last-touch attribution, the standard marketing
    * credit models.
    *
    * Single-pass design: ONE user-keyed window (ordered by ts with
    * event_id as the total tie-break) carries four IGNORE-NULLS
    * first/last aggregates and a conditional count over the strict
    * "ROWS … AND 1 PRECEDING" frame, then the purchase filter
    * projects the answer. One exchange on user_id total — no
    * conversion×touch fan-out join, no second shuffle on the
    * conversion key; per-row window state is O(1) (a running
    * first/last), never the user's event list, so a power user with
    * millions of events costs memory O(1) beyond the sort. */
  val qEventsAttribution = Q(
    "q_events_attribution",
    (s, dir) => {
      val isTouch = col("event_type").isin("click", "view")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      ev(s, dir)
        .withColumn("first_touch",
          first(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
        .withColumn("first_ts",
          first(when(isTouch, col("ts")), ignoreNulls = true).over(w))
        .withColumn("last_touch",
          last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
        .withColumn("last_ts",
          last(when(isTouch, col("ts")), ignoreNulls = true).over(w))
        .withColumn("n_touches", count(when(isTouch, lit(1))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"),
          col("ts").as("conv_ts"), col("n_touches"),
          col("first_touch"), col("first_ts"),
          col("last_touch"), col("last_ts"))
        .orderBy(col("conv_id"))
    },
    Some("""
      WITH w AS (
        SELECT event_id, user_id, event_type, ts,
               FIRST_VALUE(CASE WHEN event_type IN ('click','view')
                 THEN event_type END IGNORE NULLS) OVER win AS first_touch,
               FIRST_VALUE(CASE WHEN event_type IN ('click','view')
                 THEN ts END IGNORE NULLS) OVER win AS first_ts,
               LAST_VALUE(CASE WHEN event_type IN ('click','view')
                 THEN event_type END IGNORE NULLS) OVER win AS last_touch,
               LAST_VALUE(CASE WHEN event_type IN ('click','view')
                 THEN ts END IGNORE NULLS) OVER win AS last_ts,
               COUNT(CASE WHEN event_type IN ('click','view')
                 THEN 1 END) OVER win AS n_touches
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT event_id AS conv_id, user_id, ts AS conv_ts, n_touches,
             first_touch, first_ts, last_touch, last_ts
      FROM w WHERE event_type = 'purchase' ORDER BY conv_id"""))

  /** Funnel latency distributions: for users who complete the strict
    * view→click→purchase funnel, the per-transition time-to-convert
    * (view→click, click→purchase, view→purchase) as exact interpolated
    * p50/p90 plus the mean, in seconds — the "how long does the funnel
    * take" follow-up to q_events_funnel's "how many convert".
    *
    * Exactness: latencies are exact integer micros (unix_micros
    * diffs); percentiles interpolate over integers identically in
    * both engines (the q_percentile parity); the mean accumulates in
    * DECIMAL before ONE rounded double division. Scale shape: the
    * same user-keyed conditional-aggregation chain as the funnel
    * (stage N+1 filters on stage N's resolved timestamp — no per-user
    * event lists), then three tiny transition rows. */
  val qEventsFunnelTime = Q(
    "q_events_funnel_time",
    (s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        col("ts"), unix_micros(col("ts")).as("us"))
      val s1 = e.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("us"))).as("t1"))
        .filter(col("t1").isNotNull)
      val s2 = e.join(s1, "user_id")
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "click" && col("us") > col("t1"),
          col("us"))).as("t2"), min(col("t1")).as("t1"))
        .filter(col("t2").isNotNull)
      // s3 carries t1/t2 through its own aggregation (min over the
      // one-row-per-user s2 values is the identity), so the final
      // latencies need no second join back onto s2 — one join and one
      // s2-subtree evaluation fewer than the lat = s2 ⋈ s3 shape
      val s3 = e.join(s2, "user_id")
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "purchase" &&
          col("us") > col("t2"), col("us"))).as("t3"),
          min(col("t2")).as("t2"), min(col("t1")).as("t1"))
        .filter(col("t3").isNotNull)
      val lat = s3
        .select(col("user_id"), (col("t2") - col("t1")).as("d12"),
          (col("t3") - col("t2")).as("d23"),
          (col("t3") - col("t1")).as("d13"))
      lat.select(expr("""stack(3,
          'click_to_purchase', d23,
          'view_to_click', d12,
          'view_to_purchase', d13) AS (transition, d)"""))
        .groupBy(col("transition"))
        .agg(count(lit(1)).as("n_users"),
          round(expr("percentile(d, 0.5D)") / 1000000.0, 6).as("p50_s"),
          round(expr("percentile(d, 0.9D)") / 1000000.0, 6).as("p90_s"),
          round(sum(col("d").cast(DecimalType(25, 0))).cast("double") /
            count(lit(1)) / 1000000.0, 6).as("mean_s"))
        .orderBy(col("transition"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      s1 AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN us END) AS t1
        FROM e GROUP BY user_id
        HAVING MIN(CASE WHEN event_type = 'view' THEN us END) IS NOT NULL),
      s2 AS (
        SELECT e.user_id,
               MIN(CASE WHEN event_type = 'click' AND us > t1
                   THEN us END) AS t2,
               MIN(t1) AS t1
        FROM e JOIN s1 USING (user_id) GROUP BY e.user_id
        HAVING MIN(CASE WHEN event_type = 'click' AND us > t1
                   THEN us END) IS NOT NULL),
      s3 AS (
        SELECT e.user_id,
               MIN(CASE WHEN event_type = 'purchase' AND us > t2
                   THEN us END) AS t3
        FROM e JOIN s2 USING (user_id) GROUP BY e.user_id
        HAVING MIN(CASE WHEN event_type = 'purchase' AND us > t2
                   THEN us END) IS NOT NULL),
      lat AS (
        SELECT s2.user_id, t2 - t1 AS d12, t3 - t2 AS d23,
               t3 - t1 AS d13
        FROM s2 JOIN s3 USING (user_id)),
      un AS (
        SELECT 'click_to_purchase' AS transition, d23 AS d FROM lat
        UNION ALL
        SELECT 'view_to_click', d12 FROM lat
        UNION ALL
        SELECT 'view_to_purchase', d13 FROM lat)
      SELECT transition, COUNT(*) AS n_users,
             ROUND(quantile_cont(d, 0.5) / 1000000.0, 6) AS p50_s,
             ROUND(quantile_cont(d, 0.9) / 1000000.0, 6) AS p90_s,
             ROUND(CAST(SUM(CAST(d AS DECIMAL(25,0))) AS DOUBLE)
                   / COUNT(*) / 1000000.0, 6) AS mean_s
      FROM un GROUP BY transition ORDER BY transition"""))

  /** DAU / trailing-7-day WAU / stickiness per day — the
    * engagement headline every product dashboard leads with, and the
    * one that needs COUNT(DISTINCT) over a SLIDING window (plain
    * GROUP BY day can't see the trailing six days; a distinct-over-
    * window is unsupported in both engines). The distributed shape:
    * reduce events to the distinct (day, user) relation FIRST (the
    * only corpus-scale pass), then explode each active-day into the
    * ≤7 trailing windows it serves and distinct again on
    * (window_day, user) — a user active thrice inside one window
    * still counts once. The 7× explode runs on per-day actives, not
    * raw events, which is why the exact computation stays cheap at
    * 100 TB (the approximate alternative — mergeable per-day HLL
    * sketches — is the documented swap when even the actives relation
    * is too hot). Stickiness = DAU/WAU in exact integer micro-units
    * (both counts BIGINT — no float-division parity risk). Windows
    * are trailing and partial at the series head, the standard
    * dashboard convention; only observed days emit rows. */
  /** The distinct (day, user) actives relation — the shared input of
    * both engagement queries (persist and release via
    * [[QueryScopedCache.releaseAfter]]). */
  private def dailyActives(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Exact trailing-7-day actives per observed day, named `outCol` —
    * the one window convention both engagement queries must share
    * (explode each active-day into the ≤7 windows it serves, distinct
    * so multi-day users count once per window, semi-join to observed
    * days so only real days emit). */
  private def trailingWau(du: DataFrame, outCol: String): DataFrame =
    du.select(col("day"), col("user_id"),
        explode(sequence(lit(0), lit(6))).as("off"))
      .select(expr("date_add(day, off)").as("day"), col("user_id"))
      .distinct()
      .join(du.select(col("day")).distinct(), Seq("day"), "left_semi")
      .groupBy(col("day")).agg(count(lit(1)).as(outCol))

  val qEventsDauWau = Q(
    "q_events_dau_wau",
    (s, dir) => {
      val du = dailyActives(s, dir)
      val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = trailingWau(du, "wau")
      val result = dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          expr("CAST(dau * 1000000 DIV wau AS BIGINT)")
            .as("stickiness_micro"))
        .orderBy(col("day"))
      QueryScopedCache.releaseAfter(result, Seq(du))
    },
    Some("""
      WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
      wau AS (
        SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
        FROM (SELECT DISTINCT day FROM du) d
        JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day)
      SELECT d.day, d.dau, w.wau,
             CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stickiness_micro
      FROM dau d JOIN wau w USING (day) ORDER BY day"""))

  /** The sketch path [[qEventsDauWau]]'s scaladoc promises — trailing
    * WAU from MERGEABLE per-day HLL sketches (Datasketches
    * `hll_sketch_agg` / `hll_union_agg`): one corpus pass builds one
    * small sketch per day, and every trailing window is a UNION of ≤7
    * sketches — no explode of the actives relation, no second
    * distinct, and incremental by construction (today's sketch appends;
    * yesterday's windows never recompute — the production dashboard
    * shape at any scale). Gated in the q_hll_distinct style: an
    * estimate can never hash-match another engine, so the query
    * computes the exact trailing WAU alongside and emits whether the
    * estimate honors 3× the sketch's configured rsd (lgK=12 →
    * rsd ≈ 1.6%); DuckDB mirrors the exact count and a literal true.
    * A wrong exact count, a wrong union, or a broken bound all fail
    * the hash-match. */
  val qEventsWauSketch = Q(
    "q_events_wau_sketch",
    (s, dir) => {
      // sketches build from the DISTINCT actives relation — HLL is
      // duplicate-insensitive, so du (already the persisted shared
      // input) serves both arms and the raw projection never caches
      val du = dailyActives(s, dir)
      val exact = trailingWau(du, "wau_exact")
      val est = du.groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .select(col("day"), col("sk"),
          explode(sequence(lit(0), lit(6))).as("off"))
        .select(expr("date_add(day, off)").as("day"), col("sk"))
        .groupBy(col("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val result = exact.join(est, "day")
        .select(col("day"), col("wau_exact"),
          (abs(col("est") - col("wau_exact")) <=
            greatest(lit(1.0), col("wau_exact") * lit(0.049)))
            .as("within_bound"))
        .orderBy(col("day"))
      QueryScopedCache.releaseAfter(result, Seq(du))
    },
    Some("""
      WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      wau AS (
        SELECT d.day, COUNT(DISTINCT u.user_id) AS wau_exact
        FROM (SELECT DISTINCT day FROM du) d
        JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day)
      SELECT day, wau_exact, TRUE AS within_bound
      FROM wau ORDER BY day"""))

  /** Cohort VALUE curves — [[qEventsRetention]]'s revenue dual: per
    * signup cohort (first-seen day) and day-since-signup age, the
    * active-user count and the total event value those users
    * generated at that age — the LTV-accumulation table growth
    * analysis reads cumulatively. Value sums accumulate in
    * DECIMAL(25,6) (order-insensitive) then emit double; counts come
    * from the same distinct (user, day) activity relation retention
    * uses, so the two reports tie out by construction.
    *
    * Scale shape: one user-keyed shuffle derives cohorts, one
    * broadcast-back (the cohort frame is |users| rows keyed by user,
    * shuffled once), and the final aggregate groups a bounded
    * |days|² grid. */
  val qEventsCohortValue = Q(
    "q_events_cohort_value",
    (s, dir) => {
      val e = ev(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
      val first = e.select(col("user_id"), col("d")).distinct()
        .groupBy(col("user_id"))
        .agg(min(col("d")).as("cohort_day"))
      e.join(first, "user_id")
        .select(col("cohort_day"),
          datediff(col("d"), col("cohort_day")).cast("long").as("age"),
          col("user_id"), col("value"))
        .groupBy(col("cohort_day"), col("age"))
        .agg(countDistinct(col("user_id")).as("n_active"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(25, 6))).cast("double")
            .as("total_value"))
        .orderBy(col("cohort_day"), col("age"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, CAST(ts AS DATE) AS d, value FROM events),
      first AS (
        SELECT user_id, MIN(d) AS cohort_day
        FROM (SELECT DISTINCT user_id, d FROM e) GROUP BY user_id)
      SELECT f.cohort_day,
             CAST(e.d - f.cohort_day AS BIGINT) AS age,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(e.value AS DECIMAL(25,6))) AS DOUBLE)
               AS total_value
      FROM e JOIN first f USING (user_id)
      GROUP BY f.cohort_day, age
      ORDER BY f.cohort_day, age"""))

  /** RFM segmentation — the classic recency / frequency / monetary
    * user triage: days since each user's last event (against the
    * corpus max date, so the report is replayable), total events, and
    * exact-decimal total value, bucketed by fixed integer thresholds
    * into the segment label a lifecycle campaign keys on. Thresholds
    * are deliberately constants (not quantiles): the segment
    * DEFINITION must be stable across runs and engines; the
    * quantile-derived dual is what [[RelationalQueries]]' binning
    * provides.
    *
    * Scale shape: one user-keyed aggregate + a one-row anchor-date
    * broadcast — single exchange end to end. */
  val qEventsRfm = Q(
    "q_events_rfm",
    (s, dir) => {
      val e = ev(s, dir)
      val anchor = e.agg(max(to_date(col("ts"))).as("anchor"))
      val per = e.groupBy(col("user_id"))
        .agg(max(to_date(col("ts"))).as("last_d"),
          count(lit(1)).as("frequency"),
          sum(col("value").cast(DecimalType(25, 6))).as("mon"))
      per.crossJoin(broadcast(anchor))
        .select(col("user_id"),
          datediff(col("anchor"), col("last_d")).cast("long")
            .as("recency_days"),
          col("frequency"),
          col("mon").cast("double").as("monetary"))
        .withColumn("segment", concat(
          when(col("recency_days") <= 3, "active")
            .when(col("recency_days") <= 10, "lapsing")
            .otherwise("dormant"),
          lit("_"),
          when(col("frequency") >= 40, "high")
            .when(col("frequency") >= 15, "mid")
            .otherwise("low")))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH anchor AS (
        SELECT MAX(CAST(ts AS DATE)) AS anchor FROM events),
      per AS (
        SELECT user_id, MAX(CAST(ts AS DATE)) AS last_d,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
                 AS monetary
        FROM events GROUP BY user_id)
      SELECT user_id,
             CAST(anchor - last_d AS BIGINT) AS recency_days,
             frequency, monetary,
             (CASE WHEN anchor - last_d <= 3 THEN 'active'
                   WHEN anchor - last_d <= 10 THEN 'lapsing'
                   ELSE 'dormant' END ||
              '_' ||
              CASE WHEN frequency >= 40 THEN 'high'
                   WHEN frequency >= 15 THEN 'mid'
                   ELSE 'low' END) AS segment
      FROM per CROSS JOIN anchor
      ORDER BY user_id"""))

  /** Revenue-concentration (Pareto/Lorenz) summary — how few users
    * carry 50% and 80% of total purchase value, plus the single
    * largest user's share: the whale-dependence number every
    * marketplace reports. The textbook computation sorts users by
    * value and scans a global running share — a partition-less window.
    * Here the cumulative mass ahead of each user comes from
    * [[graft.operators.OrderStatistics.prefixSumByRank]] (the WEIGHTED
    * prefix-sum generalization of countByRank added for this family):
    * rank order is encoded as one strictly-monotone BIGINT composite
    * (value·2²¹ + reversed user id — descending value, ascending id;
    * an in-plan assert_true fails LOUDLY outside the encoding bounds,
    * the q_stats_gini discipline), so "mass ahead" = total − inclusive
    * prefix, and the 50/80% membership tests are exact integer
    * cross-multiplications. One user-keyed exchange + the operator's
    * bucket exchange; every post-aggregate frame is bounded. */
  val qEventsPareto = Q(
    "q_events_pareto",
    (s, dir) => {
      val uv = ev(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(expr("cast(round(value * 1000000) as bigint)")).as("v"))
      val guard = coalesce(expr(
        "assert_true(v < 4398046511104 and user_id < 2097152, " +
          "'q_events_pareto: composite-encoding bounds exceeded " +
          "(need value micros < 2^42 and user_id < 2^21)')").cast("long"),
        lit(0L))
      val enc = col("v") * lit(2097152L) +
        (lit(2097151L) - col("user_id")) + guard
      val incl = graft.operators.OrderStatistics.prefixSumByRank(
        uv.select(enc.as("v"), col("v").as("w")),
        uv.select(col("user_id"), lit(0L).as("session_idx"), enc.as("q")),
        inclusive = true)
        .select(col("user_id"), col("wsum"))
      val tots = uv.agg(count(lit(1)).as("n_users"),
        sum(col("v")).as("total_micro"), max(col("v")).as("maxv"))
      uv.join(incl, Seq("user_id"))
        .crossJoin(broadcast(tots))
        .select(col("n_users"), col("total_micro"), col("maxv"),
          (col("total_micro") - col("wsum")).as("ahead"))
        .groupBy(col("n_users"), col("total_micro"), col("maxv"))
        .agg(
          sum(when(col("ahead") * 2 < col("total_micro"), 1L)
            .otherwise(0L)).as("n_users_50"),
          sum(when(col("ahead") * 5 < col("total_micro") * 4, 1L)
            .otherwise(0L)).as("n_users_80"))
        .select(col("n_users"), col("total_micro"),
          col("n_users_50"), col("n_users_80"),
          round(col("n_users_80").cast("double") /
            col("n_users").cast("double"), 6).as("share_users_80"),
          round(col("maxv").cast("double") /
            col("total_micro").cast("double"), 6).as("top_user_share"))
    },
    Some("""
      WITH uv AS (
        SELECT user_id,
               CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT))
                 AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      t AS (SELECT COUNT(*) AS n_users, CAST(SUM(v) AS BIGINT)
              AS total_micro, CAST(MAX(v) AS BIGINT) AS maxv
            FROM uv),
      r AS (SELECT user_id, v,
                   CAST(SUM(v) OVER (ORDER BY v DESC, user_id)
                     AS BIGINT) AS cum_incl
            FROM uv),
      f AS (SELECT (cum_incl - v) AS ahead FROM r)
      SELECT n_users, total_micro,
             (SELECT COUNT(*) FROM f CROSS JOIN t t2
              WHERE ahead * 2 < t2.total_micro) AS n_users_50,
             (SELECT COUNT(*) FROM f CROSS JOIN t t2
              WHERE ahead * 5 < t2.total_micro * 4) AS n_users_80,
             ROUND(CAST((SELECT COUNT(*) FROM f CROSS JOIN t t2
                         WHERE ahead * 5 < t2.total_micro * 4) AS DOUBLE)
                   / CAST(n_users AS DOUBLE), 6) AS share_users_80,
             ROUND(CAST(maxv AS DOUBLE) / CAST(total_micro AS DOUBLE), 6)
               AS top_user_share
      FROM t"""))

  /** Survival analysis of signup→purchase conversion — the
    * Nelson–Aalen cumulative-hazard table with RIGHT-CENSORING, the
    * estimator product analytics needs when "hasn't converted YET"
    * must not count as "never converts": a user contributes to the
    * day-t risk set while observed (until conversion or their last
    * event), converts at day d = ⌊(first qualifying purchase −
    * first signup)/1 day⌋, or censors at their last-seen day. Per
    * conversion day: risk-set size, conversions, the discrete hazard
    * dₜ/nₜ and its running sum — all in exact integer micro-units
    * (per-term floor division, the engine's ratio discipline; a SUM
    * of floors is deterministic where a product of rationals — the
    * Kaplan–Meier form — would compound rounding).
    *
    * Scale shape: the per-user triple (signup, conversion, censor
    * time) is two user-keyed aggregations on ONE partitioning, then
    * the corpus reduces to ONE bounded (d_conv, d_end) day histogram
    * — no per-(user × day) explode, no global window. Days, the user
    * total, and the risk sets all derive from that histogram:
    * n_at_risk(t) = users − #{observation end < t} is a ≤|days|²
    * broadcast theta join over day counts (the r13 rewrite — the
    * prior countByRank pipeline shuffled every per-user row through a
    * bucket exchange plus 5 derived stages; the histogram shuffles
    * only map-side-combined day cells, 123 → 68 Exchanges in the
    * committed plans). The hazard running sum rides a bounded
    * triangular join, never a partition-less window. */
  val qEventsSurvival = Q(
    "q_events_survival",
    (s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        col("ts"), unix_micros(col("ts")).as("us"))
      val su = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("us")).as("t0"))
      val perUser = e.join(su, Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(max(col("t0")).as("t0"),
          min(when(col("event_type") === "purchase" &&
            col("us") > col("t0"), col("us"))).as("te"),
          max(col("us")).as("tlast"))
        .select(col("user_id"),
          when(col("te").isNotNull,
            expr("(te - t0) div 86400000000")).as("d_conv"),
          when(col("te").isNull,
            expr("(tlast - t0) div 86400000000")).as("d_cens"))
        .select(col("user_id"), col("d_conv"),
          coalesce(col("d_conv"), col("d_cens")).as("d_end"))
      // ONE bounded histogram replaces the three separate perUser
      // consumers (days, the user count, countByRank's point side):
      // converted users land on (d, d), censored on (null, d) — ≤
      // 2·|observed days| rows, map-side combined. Persisted: it
      // feeds days/nUsers/endHist and, through them, both triangular
      // sides below.
      val hist = perUser.groupBy(col("d_conv"), col("d_end"))
        .agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val days = hist.filter(col("d_conv").isNotNull)
        .groupBy(col("d_conv").as("t"))
        .agg(sum(col("c")).as("d_events"))
      val nUsers = hist.agg(sum(col("c")).as("n_users"))
      val endHist = hist.groupBy(col("d_end").as("de"))
        .agg(sum(col("c")).as("ec"))
      // n_ended(t) = #{d_end < t}: bounded theta join of day counts
      // (≤ |days|·|end days| pairs), exactly the oracle's correlated
      // COUNT — the per-user rows never shuffle again
      val ended = days.select(col("t"))
        .join(broadcast(endHist), col("de") < col("t"), "left")
        .groupBy(col("t"))
        .agg(coalesce(sum(col("ec")), lit(0L)).as("n_ended"))
      val hz = days.join(ended, Seq("t")).crossJoin(broadcast(nUsers))
        .select(col("t"), (col("n_users") - col("n_ended")).as("n_at_risk"),
          col("d_events"))
        .withColumn("hazard_micro",
          expr("CAST(d_events * 1000000 DIV n_at_risk AS BIGINT)"))
      val h2 = hz.select(col("t").as("t2"),
        col("hazard_micro").as("h2"))
      // bounded triangular join (≤ |distinct conversion days|² pairs);
      // the explicit broadcast keeps it a BNLJ, never a cartesian.
      // Both sides re-derive from the persisted histogram — cheap —
      // so hz itself no longer persists.
      QueryScopedCache.releaseAfter(
        hz.join(broadcast(h2), col("t2") <= col("t"))
          .groupBy(col("t"), col("n_at_risk"), col("d_events"),
            col("hazard_micro"))
          .agg(sum(col("h2")).as("cumhaz_micro"))
          .orderBy(col("t")),
        Seq(hist))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      su AS (
        SELECT user_id, MIN(us) AS t0 FROM e
        WHERE event_type = 'signup' GROUP BY user_id),
      pu AS (
        SELECT e.user_id, MAX(su.t0) AS t0,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.us > su.t0
                        THEN e.us END) AS te,
               MAX(e.us) AS tlast
        FROM e JOIN su USING (user_id)
        GROUP BY e.user_id),
      per_user AS (
        SELECT user_id,
               CASE WHEN te IS NOT NULL
                    THEN (te - t0) // 86400000000 END AS d_conv,
               CASE WHEN te IS NOT NULL
                    THEN (te - t0) // 86400000000
                    ELSE (tlast - t0) // 86400000000 END AS d_end
        FROM pu),
      days AS (
        SELECT d_conv AS t, COUNT(*) AS d_events
        FROM per_user WHERE d_conv IS NOT NULL GROUP BY d_conv),
      n AS (SELECT COUNT(*) AS n_users FROM per_user),
      hz AS (
        SELECT d.t,
               n.n_users - (SELECT COUNT(*) FROM per_user p
                            WHERE p.d_end < d.t) AS n_at_risk,
               d.d_events
        FROM days d CROSS JOIN n),
      hz2 AS (
        SELECT t, n_at_risk, d_events,
               CAST(d_events * 1000000 // n_at_risk AS BIGINT)
                 AS hazard_micro
        FROM hz)
      SELECT a.t, a.n_at_risk, a.d_events, a.hazard_micro,
             CAST(SUM(b.hazard_micro) AS BIGINT) AS cumhaz_micro
      FROM hz2 a JOIN hz2 b ON b.t <= a.t
      GROUP BY a.t, a.n_at_risk, a.d_events, a.hazard_micro
      ORDER BY a.t"""))

  /** CUPED-adjusted experiment readout — the variance-reduction
    * technique every mature experimentation platform applies before
    * calling an A/B result: regress the post-period metric on the
    * PRE-period covariate (θ = cov(X,Y)/var(X), pooled), subtract
    * θ·(X − X̄) per user, and compare per-variant ADJUSTED means —
    * same expectation, (1 − ρ²)× the variance. Assignment is a
    * deterministic md5 parity of the user id (replayable "experiment");
    * the pre/post split is the fixture midpoint. Every moment (Sx, Sy,
    * Sxy, Sxx, Syy, per variant and pooled) accumulates as exact
    * integer cents; the n·S products that could graze BIGINT at scale
    * go through DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) before the
    * single double division, and every emitted ratio rounds once at 6.
    * Scale shape: one user-keyed aggregation builds (X, Y, variant);
    * everything after runs on two variant rows + one pooled row. */
  val qEventsUplift = Q(
    "q_events_uplift",
    (s, dir) => {
      val mid = lit("2024-01-15").cast("timestamp")
      val xy = ev(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase" && col("ts") < mid,
            expr("cast(round(value * 100) as bigint)")).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase" && col("ts") >= mid,
            expr("cast(round(value * 100) as bigint)")).otherwise(0L))
            .as("y"))
        .withColumn("variant",
          pmod(graft.functions.TextFunctions.md5Bits(
            col("user_id").cast("string")).getField("h"), lit(2L)))
      val pooled = xy.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("cast(x as decimal(19,0)) * cast(y as decimal(19,0))"))
          .as("sxy"),
        sum(expr("cast(x as decimal(19,0)) * cast(x as decimal(19,0))"))
          .as("sxx"),
        sum(expr("cast(y as decimal(19,0)) * cast(y as decimal(19,0))"))
          .as("syy"))
        .select(col("n"), col("sx"), col("sy"),
          (col("n").cast(DecimalType(20, 0)) * col("sxy") -
            col("sx").cast(DecimalType(20, 0)) *
            col("sy").cast(DecimalType(20, 0))).cast("double").as("covn"),
          (col("n").cast(DecimalType(20, 0)) * col("sxx") -
            col("sx").cast(DecimalType(20, 0)) *
            col("sx").cast(DecimalType(20, 0))).cast("double").as("varxn"),
          (col("n").cast(DecimalType(20, 0)) * col("syy") -
            col("sy").cast(DecimalType(20, 0)) *
            col("sy").cast(DecimalType(20, 0))).cast("double").as("varyn"))
        .select(col("n"), col("sx"), col("sy"),
          (col("covn") / col("varxn")).as("theta"),
          (col("covn") * col("covn") / (col("varxn") * col("varyn")))
            .as("rho2"))
      xy.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"), sum(col("x")).as("vx"),
          sum(col("y")).as("vy"))
        .crossJoin(broadcast(pooled))
        .select(col("variant"), col("n_users"),
          round(col("vy").cast("double") / col("n_users").cast("double") /
            100.0, 6).as("mean_post"),
          round((col("vy").cast("double") / col("n_users").cast("double") -
            col("theta") * (col("vx").cast("double") /
              col("n_users").cast("double") -
              col("sx").cast("double") / col("n").cast("double"))) / 100.0,
            6).as("adj_mean_post"),
          round(col("theta"), 6).as("theta"),
          round(col("rho2"), 6).as("variance_reduction"))
        .orderBy(col("variant"))
    },
    Some("""
      WITH xy AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                              AND ts < TIMESTAMP '2024-01-15'
                             THEN CAST(ROUND(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                              AND ts >= TIMESTAMP '2024-01-15'
                             THEN CAST(ROUND(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id),
      tagged AS (
        SELECT *, CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                 1, 15)) AS BIGINT) % 2 AS variant
        FROM xy),
      pooled AS (
        SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
               SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
               SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        FROM tagged),
      scal AS (
        SELECT n, sx, sy,
               CAST(CAST(n AS HUGEINT) * sxy
                    - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT)
                 AS DOUBLE) AS covn,
               CAST(CAST(n AS HUGEINT) * sxx
                    - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)
                 AS DOUBLE) AS varxn,
               CAST(CAST(n AS HUGEINT) * syy
                    - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT)
                 AS DOUBLE) AS varyn
        FROM pooled),
      th AS (SELECT n, sx, covn / varxn AS theta,
                    covn * covn / (varxn * varyn) AS rho2
             FROM scal),
      v AS (
        SELECT variant, COUNT(*) AS n_users,
               CAST(SUM(x) AS BIGINT) AS vx, CAST(SUM(y) AS BIGINT) AS vy
        FROM tagged GROUP BY variant)
      SELECT variant, n_users,
             ROUND(CAST(vy AS DOUBLE) / CAST(n_users AS DOUBLE)
                   / 100.0, 6) AS mean_post,
             ROUND((CAST(vy AS DOUBLE) / CAST(n_users AS DOUBLE)
                    - theta * (CAST(vx AS DOUBLE) / CAST(n_users AS DOUBLE)
                               - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                   / 100.0, 6) AS adj_mean_post,
             ROUND(theta, 6) AS theta,
             ROUND(rho2, 6) AS variance_reduction
      FROM v CROSS JOIN th ORDER BY variant"""))

  /** Experiment power / minimal-detectable-effect calculator — the
    * sizing step run BEFORE [[qEventsUplift]]'s readout: given the
    * observed per-user purchase-value distribution, the smallest true
    * effect a 50/50 split of this population detects at α = 0.05 with
    * 80% power (MDE = (z₀.₉₇₅ + z₀.₈)·√(2s²/(n/2)), the two z's fixed
    * textbook literals). The sample variance comes from the same
    * exact integer-cent moments as the uplift query (n·Σy² − (Σy)²
    * through DECIMAL/HUGEINT above the BIGINT graze line); doubles
    * appear only in the final sqrt/divide chain, identical
    * op-tree cross-engine, each emitted ratio rounded once at 6.
    * One user-keyed aggregation; everything after is one row. */
  val qEventsPower = Q(
    "q_events_power",
    (s, dir) => {
      val y = ev(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
          expr("cast(round(value * 100) as bigint)")).otherwise(0L))
          .as("y"))
      val z = lit(2.801585)
      y.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
          sum(expr("cast(y as decimal(19,0)) * cast(y as decimal(19,0))"))
            .as("syy"))
        .select(col("n"),
          round(col("sy").cast("double") / col("n").cast("double") /
            100.0, 6).as("mean_value"),
          ((col("n").cast(DecimalType(20, 0)) * col("syy") -
            col("sy").cast(DecimalType(20, 0)) *
            col("sy").cast(DecimalType(20, 0))).cast("double") /
            (col("n").cast("double") * (col("n").cast("double") - 1.0)))
            .as("s2"))
        .select(col("n").as("n_users"), col("mean_value"),
          round(sqrt(col("s2")) / 100.0, 6).as("sd_value"),
          round(z * sqrt(col("s2") * 2.0 /
            (col("n").cast("double") / 2.0)) / 100.0, 6).as("mde_abs"),
          round(z * sqrt(col("s2") * 2.0 /
            (col("n").cast("double") / 2.0)) /
            (col("mean_value") * 100.0), 6).as("mde_rel"))
    },
    Some("""
      WITH y AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(ROUND(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id),
      m AS (
        SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        FROM y),
      sc AS (
        SELECT n,
               ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
                 AS mean_value,
               CAST(CAST(n AS HUGEINT) * syy
                    - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT)
                 AS DOUBLE)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS s2
        FROM m)
      SELECT n AS n_users, mean_value,
             ROUND(SQRT(s2) / 100.0, 6) AS sd_value,
             ROUND(CAST(2.801585 AS DOUBLE)
                   * SQRT(s2 * 2.0 / (CAST(n AS DOUBLE) / 2.0))
                   / 100.0, 6) AS mde_abs,
             ROUND(CAST(2.801585 AS DOUBLE)
                   * SQRT(s2 * 2.0 / (CAST(n AS DOUBLE) / 2.0))
                   / (mean_value * 100.0), 6) AS mde_rel
      FROM sc"""))

  /** Stationary distribution of the user-journey Markov chain — where
    * does a long-run session "spend its time"? [[qEventsTransitions]]
    * estimates the row-normalized transition matrix; this query
    * power-iterates it (4 sweeps from uniform) to the long-run state
    * occupancy — the journey-level importance score behind
    * Markov-chain attribution and PageRank itself, here on the
    * event-type state graph.
    *
    * Integer discipline ([[GraphQueries]] pagerank): occupancy lives
    * in nano-units and each sweep's contribution is the exact BIGINT
    * `π·n DIV n_from` (π ≤ 1e9 keeps the product far from overflow at
    * any realistic per-cell transition count; a chain whose cell
    * counts approach 1e9 would pre-reduce the matrix). Every state
    * observed here both emits and receives transitions; a state with
    * NO outgoing transitions would absorb mass silently — a corpus
    * where that matters adds a self-loop row first.
    *
    * Scale shape: the corpus-scale work is the per-user lead() window
    * (user-partitioned); everything after collapses to the k×k
    * transition matrix (k = |event types|, persisted across sweeps so
    * the corpus window runs once) and k-row occupancy frames. */
  val qEventsMarkov = Q(
    "q_events_markov",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val seqW = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = ev(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(seqW))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val fromT = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("n_from"))
      val tm = pairs.join(fromT, Seq("prev_type")).persist(MEMORY_AND_DISK)
      val k = fromT.agg(count(lit(1)).as("k"))
      var pi = fromT.crossJoin(broadcast(k))
        .select(col("prev_type").as("state"),
          expr("CAST(1000000000 DIV k AS BIGINT)").as("pi"))
      for (_ <- 1 to 4)
        pi = tm.join(pi, col("prev_type") === col("state"))
          .select(col("next_type"),
            expr("pi * n DIV n_from").as("contrib"))
          .groupBy(col("next_type"))
          .agg(sum(col("contrib")).as("pi"))
          .select(col("next_type").as("state"), col("pi"))
      QueryScopedCache.releaseAfter(
        pi.select(col("state"), col("pi").as("pi_nano"))
          .orderBy(col("state")),
        Seq(tm))
    },
    Some {
      def sweep(prev: String, cur: String) = s"""
      $cur AS (
        SELECT tm.next_type AS state,
               CAST(SUM(p.pi * tm.n // tm.n_from) AS BIGINT) AS pi
        FROM tm JOIN $prev p ON p.state = tm.prev_type
        GROUP BY 1)"""
      s"""
      WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events),
      t AS (
        SELECT event_type AS prev_type, next_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      fromt AS (
        SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from
        FROM t GROUP BY 1),
      tm AS (
        SELECT t.prev_type, t.next_type, t.n, f.n_from
        FROM t JOIN fromt f USING (prev_type)),
      k AS (SELECT COUNT(*) AS k FROM fromt),
      p0 AS (
        SELECT prev_type AS state, CAST(1000000000 // k AS BIGINT) AS pi
        FROM fromt CROSS JOIN k),
      ${sweep("p0", "p1")},
      ${sweep("p1", "p2")},
      ${sweep("p2", "p3")},
      ${sweep("p3", "p4")}
      SELECT state, pi AS pi_nano FROM p4 ORDER BY state"""
    })

  /** Weekly growth accounting — every active user classified per week
    * as NEW (first week ever seen), RETAINED (also active the
    * immediately preceding week) or RESURRECTED (active before, but
    * not last week), plus the week's CHURNED count (active last week,
    * silent this week) — the new/retained/resurrected/churned ledger
    * behind every growth dashboard, and the identity
    * active(w) = new + retained + resurrected with
    * churned(w) = active(w−1) − retained(w) auditable row by row.
    *
    * The whole classification is ONE user-keyed window over the
    * distinct (user, week) activity table: lag(week) separates
    * new/retained/resurrected; the SAME row, read from the lead side
    * (next active week more than 7 days out, or never), emits the
    * user's churn week. Churn weeks beyond the observed horizon are
    * clipped against the broadcast max-week scalar — a user active in
    * the final week hasn't churned yet, they're censored
    * ([[qEventsSurvival]]'s convention).
    *
    * Scale shape: one exchange to distinct user-weeks, one user
    * window, and a week-keyed rollup on a bounded key — the event
    * stream crosses the wire once; per-user state is two timestamps,
    * never the event list. */
  val qEventsLifecycle = Q(
    "q_events_lifecycle",
    (s, dir) => {
      val uw = ev(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      val horizon = uw.agg(max(col("wk")).as("wk_max"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
      val flagged = uw
        .withColumn("prev", lag(col("wk"), 1).over(w))
        .withColumn("nxt", lead(col("wk"), 1).over(w))
      val classed = flagged.groupBy(col("wk")).agg(
        sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev") === col("wk") - expr("interval 7 days"), 1L)
          .otherwise(0L)).as("n_retained"),
        sum(when(col("prev").isNotNull &&
            col("prev") < col("wk") - expr("interval 7 days"), 1L)
          .otherwise(0L)).as("n_resurrected"))
      val churn = flagged
        .filter(col("nxt").isNull ||
          col("nxt") > col("wk") + expr("interval 7 days"))
        .select((col("wk") + expr("interval 7 days")).as("wk"))
        .crossJoin(broadcast(horizon))
        .filter(col("wk") <= col("wk_max"))
        .groupBy(col("wk")).agg(count(lit(1)).as("n_churned"))
      classed.join(churn, Seq("wk"), "left")
        .select(col("wk"), col("n_new"), col("n_retained"),
          col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"),
          (col("n_new") + col("n_retained") + col("n_resurrected"))
            .as("n_active"))
        .orderBy(col("wk"))
    },
    Some("""
      WITH uw AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        FROM events),
      horizon AS (SELECT MAX(wk) AS wk_max FROM uw),
      flagged AS (
        SELECT user_id, wk,
               LAG(wk, 1) OVER w AS prev,
               LEAD(wk, 1) OVER w AS nxt
        FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY wk)),
      classed AS (
        SELECT wk,
               CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN prev = wk - INTERVAL 7 DAY
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
               CAST(SUM(CASE WHEN prev IS NOT NULL
                   AND prev < wk - INTERVAL 7 DAY
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        FROM flagged GROUP BY wk),
      churn AS (
        SELECT f.wk + INTERVAL 7 DAY AS wk, COUNT(*) AS n_churned
        FROM flagged f CROSS JOIN horizon h
        WHERE (f.nxt IS NULL OR f.nxt > f.wk + INTERVAL 7 DAY)
          AND f.wk + INTERVAL 7 DAY <= h.wk_max
        GROUP BY 1)
      SELECT c.wk, c.n_new, c.n_retained, c.n_resurrected,
             COALESCE(ch.n_churned, 0) AS n_churned,
             c.n_new + c.n_retained + c.n_resurrected AS n_active
      FROM classed c LEFT JOIN churn ch USING (wk)
      ORDER BY c.wk"""))

  /** Sequence-pattern matching (MATCH_RECOGNIZE's core) — find every
    * STRICTLY CONSECUTIVE view→click→purchase run inside each user's
    * event stream (no other event of theirs in between — the
    * "clean conversion burst" pattern, stricter than [[qEventsFunnel]]
    * which allows arbitrary gaps) and report per matching user the
    * match count, the first burst's start, and the median burst
    * duration in seconds. The pattern-automaton-over-partitions shape
    * is the general one: any fixed k-step pattern is k−1 leads over
    * the same window.
    *
    * Scale shape: ONE user-keyed exchange; both lead() columns fuse
    * into a single Window over it ([[qEventsPaths]] discipline), the
    * rollup reuses the same partitioning, and burst duration is
    * exact integer seconds (timestamp microseconds div 10⁶); the
    * per-user median is the exact interpolating percentile over
    * those BIGINTs, rounded ([[RelationalQueries.qPercentile]]
    * parity: percentile ≡ quantile_cont). */
  val qEventsPattern = Q(
    "q_events_pattern",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val runs = ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .withColumn("t3", lead(col("ts"), 2).over(w))
        .filter(col("event_type") === "view" && col("e2") === "click" &&
          col("e3") === "purchase")
      runs
        .withColumn("dur_s",
          expr("(unix_micros(t3) - unix_micros(ts)) div 1000000"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_bursts"),
          min(col("ts")).as("first_burst"),
          round(expr("percentile(dur_s, 0.5D)"), 6).as("median_burst_s"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH runs AS (
        SELECT user_id, ts, event_id, event_type,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3,
               LEAD(ts, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, COUNT(*) AS n_bursts,
             MIN(ts) AS first_burst,
             ROUND(quantile_cont(
               (epoch_us(t3) - epoch_us(ts)) // 1000000, 0.5), 6)
               AS median_burst_s
      FROM runs
      WHERE event_type = 'view' AND e2 = 'click' AND e3 = 'purchase'
      GROUP BY user_id ORDER BY user_id"""))

  /** Rolling 28-day active users (MAU) per day, with same-day actives
    * (DAU) and the DAU/MAU stickiness ratio — the growth-team
    * headline series, and the operator class "distinct count over a
    * sliding window" that plain windowed aggregation cannot express
    * (distinct does not decompose over overlapping frames).
    *
    * Exact formulation: each distinct (user, day) activity CONTRIBUTES
    * to the 28 target days it keeps the user active for — a bounded
    * 28× explode ([[RelationalQueries.qTsEwma]]'s horizon-explode
    * discipline), deduplicated per (target day, user), counted per
    * day. Target days past the observed horizon are clipped against
    * the broadcast max-day scalar ([[qEventsLifecycle]]'s censoring
    * rule). At 100 TB the same shape runs with per-day HLL sketches
    * merged over the 28-day window instead of the exact dedup — the
    * [[qEventsWauSketch]] swap, documented not gated here because the
    * exact path IS the oracle.
    *
    * Scale shape: one exchange to distinct user-days (persisted for
    * its two consumers), the bounded explode, one (day, user) dedup
    * exchange, and a bounded per-day rollup. */
  val qEventsMau = Q(
    "q_events_mau",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ud = ev(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
        .persist(MEMORY_AND_DISK)
      val mx = ud.agg(max(col("day")).as("mxd"))
      val mau = ud
        .select(col("user_id"), explode(expr(
          "sequence(day, day + interval 27 days, interval 1 day)"))
          .as("tday"))
        .crossJoin(broadcast(mx))
        .filter(col("tday") <= col("mxd"))
        .groupBy(col("tday"))
        .agg(countDistinct(col("user_id")).as("mau"))
      val dau = ud.groupBy(col("day"))
        .agg(count(lit(1)).as("dau"))
        .withColumnRenamed("day", "tday")
      val result = mau.join(dau, Seq("tday"), "left")
        .select(col("tday").as("day"),
          coalesce(col("dau"), lit(0L)).as("dau"), col("mau"),
          round(coalesce(col("dau"), lit(0L)).cast("double") /
            col("mau").cast("double"), 6).as("stickiness"))
        .orderBy(col("day"))
      QueryScopedCache.releaseAfter(result, Seq(ud))
    },
    Some("""
      WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        FROM events),
      mx AS (SELECT MAX(day) AS mxd FROM ud),
      span AS (
        SELECT user_id,
               unnest([day + i * INTERVAL 1 DAY
                       for i in generate_series(0, 27)]) AS tday
        FROM ud),
      mau AS (
        SELECT s.tday, COUNT(DISTINCT s.user_id) AS mau
        FROM span s CROSS JOIN mx
        WHERE s.tday <= mx.mxd
        GROUP BY s.tday),
      dau AS (
        SELECT day AS tday, COUNT(*) AS dau FROM ud GROUP BY day)
      SELECT m.tday AS day, COALESCE(d.dau, 0) AS dau, m.mau,
             ROUND(CAST(COALESCE(d.dau, 0) AS DOUBLE) /
                   CAST(m.mau AS DOUBLE), 6) AS stickiness
      FROM mau m LEFT JOIN dau d USING (tday)
      ORDER BY day"""))

  /** Position-based (U-shaped) multi-touch attribution — where
    * [[qEventsAttribution]] reports only the first and last touch,
    * this DISTRIBUTES each conversion's credit across ALL its
    * preceding touches 40/20/40 (first / middles split evenly / last)
    * and rolls the credit up per channel — the model marketing
    * actually budgets against when neither endpoint deserves full
    * credit. Credit lives in integer BASIS POINTS (10000 per
    * conversion): n=1 → 10000; n=2 → 5000/5000; n≥3 → 4000 first,
    * 4000 last, `2000 div (n−2)` per middle with the integer-division
    * remainder assigned to the last touch — a total, deterministic
    * rule, so every credit cell gates exactly and per-channel totals
    * are pure BIGINT sums.
    *
    * Scale shape: one user-keyed join pairs each purchase with that
    * user's earlier touches (per-user fan-out, the
    * [[qEventsFunnel]]/[[qEventsPaths]] cost envelope — per-user
    * activity is bounded); position/count ride ONE conv-partitioned
    * window; the rollup lands on the bounded channel key and the
    * one-row grand-total scalar rides a broadcast cross join. */
  val qEventsAttributionPosition = Q(
    "q_events_attribution_position",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val e = ev(s, dir)
      val convs = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"),
          col("ts").as("conv_ts"))
      val touches = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type").as("channel"),
          col("ts").as("tts"), col("event_id").as("tid"))
      val w = Window.partitionBy(col("conv_id"))
      val credited = convs.join(touches, Seq("user_id"))
        .filter(col("tts") < col("conv_ts"))
        .withColumn("p", row_number().over(
          w.orderBy(col("tts"), col("tid"))))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("credit_bp",
          when(col("n") === 1, 10000L)
            .when(col("n") === 2, 5000L)
            .when(col("p") === 1, 4000L)
            .when(col("p") === col("n"),
              lit(4000L) + lit(2000L) -
                expr("2000 div (n - 2)") * (col("n") - 2))
            .otherwise(expr("2000 div (n - 2)")))
        .persist(MEMORY_AND_DISK)
      val tot = credited.agg(sum(col("credit_bp")).as("total_bp"))
      QueryScopedCache.releaseAfter(
        credited.groupBy(col("channel"))
          .agg(count(lit(1)).as("n_credited"),
            countDistinct(col("conv_id")).as("n_convs"),
            sum(col("credit_bp")).as("credit_bp"))
          .crossJoin(broadcast(tot))
          .select(col("channel"), col("n_credited"), col("n_convs"),
            col("credit_bp"),
            round(col("credit_bp").cast("double") /
              col("total_bp").cast("double"), 6).as("credit_share"))
          .orderBy(col("channel")),
        Seq(credited))
    },
    Some("""
      WITH convs AS (
        SELECT user_id, event_id AS conv_id, ts AS conv_ts
        FROM events WHERE event_type = 'purchase'),
      touches AS (
        SELECT user_id, event_type AS channel, ts AS tts,
               event_id AS tid
        FROM events WHERE event_type IN ('click', 'view')),
      paired AS (
        SELECT c.conv_id, t.channel, t.tts, t.tid,
               ROW_NUMBER() OVER (PARTITION BY c.conv_id
                 ORDER BY t.tts, t.tid) AS p,
               COUNT(*) OVER (PARTITION BY c.conv_id) AS n
        FROM convs c JOIN touches t USING (user_id)
        WHERE t.tts < c.conv_ts),
      credited AS (
        SELECT conv_id, channel,
               CASE WHEN n = 1 THEN 10000
                    WHEN n = 2 THEN 5000
                    WHEN p = 1 THEN 4000
                    WHEN p = n THEN 4000 + 2000 -
                      (2000 // (n - 2)) * (n - 2)
                    ELSE 2000 // (n - 2) END AS credit_bp
        FROM paired),
      tot AS (SELECT CAST(SUM(credit_bp) AS BIGINT) AS total_bp
              FROM credited)
      SELECT c.channel, COUNT(*) AS n_credited,
             CAST(COUNT(DISTINCT c.conv_id) AS BIGINT) AS n_convs,
             CAST(SUM(c.credit_bp) AS BIGINT) AS credit_bp,
             ROUND(CAST(SUM(c.credit_bp) AS DOUBLE) /
                   CAST(t.total_bp AS DOUBLE), 6) AS credit_share
      FROM credited c CROSS JOIN tot t
      GROUP BY c.channel, t.total_bp
      ORDER BY c.channel"""))

  /** Variable-length sequence pattern — `view click+ purchase`
    * (one view, ONE OR MORE consecutive clicks, then purchase, with
    * nothing else in between): the quantified MATCH_RECOGNIZE shape
    * [[qEventsPattern]]'s fixed 3-step automaton cannot express. The
    * trick that keeps it one window pass at any pattern length: for
    * every event, carry the row number and type of the LAST NON-CLICK
    * event before it (one last-ignore-nulls window each); a purchase
    * row then matches iff that anchor is a 'view' and the row-number
    * gap proves ≥1 click strictly between — run length and click
    * count fall out of the same integer gap, no self-join, no
    * per-row recursion.
    *
    * Scale shape: ONE user-keyed exchange; row_number and both
    * last-ignore-nulls columns share the same window frame, the
    * match filter is a per-row predicate, and the per-user rollup
    * reuses the partitioning. All outputs exact integers. */
  val qEventsPatternVar = Q(
    "q_events_pattern_var",
    (s, dir) => {
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
      val nonClick = when(col("event_type") =!= "click",
        col("event_type"))
      val marked = ev(s, dir)
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("anchor_type",
          last(nonClick, ignoreNulls = true).over(wPrev))
        .withColumn("anchor_rn",
          last(when(col("event_type") =!= "click", col("rn")),
            ignoreNulls = true).over(wPrev))
      marked
        .filter(col("event_type") === "purchase" &&
          col("anchor_type") === "view" &&
          col("rn") - col("anchor_rn") >= 2)
        .select(col("user_id"),
          (col("rn") - col("anchor_rn") - 1).cast("long").as("n_clicks"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"),
          max(col("n_clicks")).as("max_clicks"),
          sum(col("n_clicks")).as("total_clicks"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH numbered AS (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS rn
        FROM events),
      marked AS (
        SELECT user_id, event_type, rn,
               LAST_VALUE(CASE WHEN event_type <> 'click'
                 THEN event_type END IGNORE NULLS) OVER wp
                 AS anchor_type,
               LAST_VALUE(CASE WHEN event_type <> 'click'
                 THEN rn END IGNORE NULLS) OVER wp AS anchor_rn
        FROM numbered
        WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING))
      SELECT user_id, COUNT(*) AS n_matches,
             CAST(MAX(rn - anchor_rn - 1) AS BIGINT) AS max_clicks,
             CAST(SUM(rn - anchor_rn - 1) AS BIGINT) AS total_clicks
      FROM marked
      WHERE event_type = 'purchase' AND anchor_type = 'view'
        AND rn - anchor_rn >= 2
      GROUP BY user_id ORDER BY user_id"""))

  /** Multi-window SLO burn-rate alerting (the SRE error-budget
    * pattern): per hour, the error rate over the last hour AND over
    * the trailing 6 hours, both expressed as burn multiples of a 2%
    * error budget, alerting only when BOTH windows burn — the short
    * window for responsiveness, the long window to suppress blips.
    * [[qEventsAnomaly]] finds statistical outliers; this enforces a
    * CONTRACT.
    *
    * The trailing-6h sums avoid any window: each hour's (err, total)
    * contributes to the 6 target hours it trails — the bounded 6×
    * explode ([[RelationalQueries.qTsEwma]]'s horizon discipline) —
    * and the per-target-hour aggregate is exact BIGINT. Rates and
    * burn multiples are single rounded IEEE expressions; the alert
    * flag compares the INTEGER cross-multiplication
    * (err · 50 > total, i.e. rate > 2%) so the decision never
    * touches a float. One hourly exchange, one bounded explode, one
    * grid join — the event stream crosses the wire once. */
  val qEventsSloBurn = Q(
    "q_events_slo_burn",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val hourly = ev(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_err"))
      val span = hourly.agg(min(col("h")).as("h0"),
        unix_micros(max(col("h"))).as("u1"))
      val st = hourly.crossJoin(broadcast(span))
        .select(
          expr("(unix_micros(h) - unix_micros(h0)) div 3600000000")
            .as("tix"),
          expr("(u1 - unix_micros(h0)) div 3600000000").as("mxtix"),
          col("h"), col("n_total"), col("n_err"))
        .persist(MEMORY_AND_DISK)
      val roll6 = st
        .select(col("n_total"), col("n_err"), col("mxtix"),
          explode(expr("sequence(tix, tix + 5)")).as("t6"))
        .filter(col("t6") <= col("mxtix"))
        .groupBy(col("t6"))
        .agg(sum(col("n_total")).as("tot6"), sum(col("n_err")).as("err6"))
      val result = st.join(roll6, col("tix") === col("t6"))
        .select(col("h"), col("n_err"), col("n_total"),
          col("err6"), col("tot6"),
          round(col("n_err").cast("double") /
            greatest(col("n_total"), lit(1L)).cast("double") / 0.02, 6)
            .as("burn_1h"),
          round(col("err6").cast("double") /
            greatest(col("tot6"), lit(1L)).cast("double") / 0.02, 6)
            .as("burn_6h"),
          (col("n_err") * 50 > col("n_total") &&
            col("err6") * 50 > col("tot6")).as("alert"))
        .orderBy(col("h"))
      QueryScopedCache.releaseAfter(result, Seq(st))
    },
    Some("""
      WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                 END) AS BIGINT) AS n_err
        FROM events GROUP BY 1),
      span AS (
        SELECT MIN(h) AS h0, epoch_us(MAX(h)) AS u1 FROM hourly),
      st AS (
        SELECT (epoch_us(h) - epoch_us(h0)) // 3600000000 AS tix,
               (u1 - epoch_us(h0)) // 3600000000 AS mxtix,
               h, n_total, n_err
        FROM hourly CROSS JOIN span),
      roll6 AS (
        SELECT t6, CAST(SUM(n_total) AS BIGINT) AS tot6,
               CAST(SUM(n_err) AS BIGINT) AS err6
        FROM (SELECT n_total, n_err, mxtix,
                     unnest([tix + i for i in generate_series(0, 5)])
                       AS t6
              FROM st) x
        WHERE t6 <= mxtix
        GROUP BY t6)
      SELECT s.h, s.n_err, s.n_total, r.err6, r.tot6,
             ROUND(CAST(s.n_err AS DOUBLE) /
               CAST(GREATEST(s.n_total, 1) AS DOUBLE) / 0.02, 6)
               AS burn_1h,
             ROUND(CAST(r.err6 AS DOUBLE) /
               CAST(GREATEST(r.tot6, 1) AS DOUBLE) / 0.02, 6)
               AS burn_6h,
             s.n_err * 50 > s.n_total AND r.err6 * 50 > r.tot6 AS alert
      FROM st s JOIN roll6 r ON r.t6 = s.tix
      ORDER BY s.h"""))

  /** Longest daily-activity streak per user — the top-20 streak
    * leaderboard (engagement gamification's core metric, and the
    * gaps-and-islands exercise at DAY grain that
    * [[qEventsLifecycle]] runs at week grain): consecutive active
    * days chain into islands via the lag-difference flag + running
    * island id, the longest island per user wins, ties break on
    * earlier start then user id — a total order, so the leaderboard
    * is deterministic.
    *
    * Scale shape: one exchange to distinct (user, day), ONE user
    * window carrying both the lag flag and the island-id running
    * sum, a (user, island) rollup on the same keying, and a
    * TakeOrdered top-20 — never a global sort. All columns exact. */
  val qEventsStreak = Q(
    "q_events_streak",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val islands = ev(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
        .withColumn("brk",
          when(lag(col("day"), 1).over(w).isNull ||
            lag(col("day"), 1).over(w) =!=
              col("day") - expr("interval 1 day"), 1L).otherwise(0L))
        .withColumn("island", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("streak_days"),
          min(col("day")).as("streak_start"))
      val wBest = Window.partitionBy(col("user_id"))
        .orderBy(col("streak_days").desc, col("streak_start"))
      islands
        .withColumn("rk", row_number().over(wBest))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("streak_days"), col("streak_start"))
        .orderBy(col("streak_days").desc, col("streak_start"),
          col("user_id"))
        .limit(20)
    },
    Some("""
      WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        FROM events),
      flagged AS (
        SELECT user_id, day,
               CASE WHEN LAG(day, 1) OVER w IS NULL
                      OR LAG(day, 1) OVER w <> day - INTERVAL 1 DAY
                    THEN 1 ELSE 0 END AS brk
        FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      islands AS (
        SELECT user_id,
               CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS island,
               day
        FROM flagged),
      runs AS (
        SELECT user_id, island, COUNT(*) AS streak_days,
               MIN(day) AS streak_start
        FROM islands GROUP BY user_id, island),
      best AS (
        SELECT user_id, streak_days, streak_start,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY streak_days DESC, streak_start) AS rk
        FROM runs)
      SELECT user_id, streak_days, streak_start
      FROM best WHERE rk = 1
      ORDER BY streak_days DESC, streak_start, user_id LIMIT 20"""))

  /** Input/output rows for the throttle's typed per-partition scan. */
  private[analytics] case class ThrottleIn(
      user_id: Long, event_id: Long, tsu: Long)
  private[analytics] case class ThrottleKept(
      user_id: Long, event_id: Long, tsu: Long, kept_rank: Long,
      gap_s: Option[Long])

  /** Greedy per-user rate limiting (throttle/debounce) — keep an
    * event only if ≥ 24 h have passed since the PREVIOUS KEPT event:
    * alerting dedup, notification capping, and sampling-one-per-
    * quiet-period all share this shape. This is a genuinely different
    * operator class from sessionization: gaps-and-islands compares
    * each event to its raw predecessor (a `lag` — stateless per
    * row), while the throttle chain is defined by its OWN output
    * (kept(i+1) = first event ≥ kept(i)+24 h), an inherently
    * sequential recurrence no window formulation expresses. The
    * engine runs it as the secondary-sort pattern: hash-exchange on
    * user_id, sort each partition by (user, ts, event_id), then ONE
    * streaming `mapPartitions` pass with O(1) state (current user +
    * last kept micros) — no per-user event-list materialization, so
    * a hot user spills nothing. The oracle is a recursive CTE with a
    * per-step LATERAL argmin — the chain semantics stated
    * declaratively — so the gate certifies the imperative scan
    * against the declarative recurrence.
    *
    * Scale shape: one user-keyed exchange + one ordered scan;
    * output order rides the same sort. The streaming twin is
    * a keyed fold with the same O(1) per-key state. */
  val qEventsThrottle = Q(
    "q_events_throttle",
    (s, dir) => {
      import s.implicits._
      val kept = ev(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsu"))
        .repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("tsu"), col("event_id"))
        .as[ThrottleIn]
        .mapPartitions { it =>
          var curUser = Long.MinValue
          var lastKept = Long.MinValue
          var rank = 0L
          var first = true
          it.flatMap { r =>
            if (first || r.user_id != curUser) {
              first = false; curUser = r.user_id; lastKept = r.tsu
              rank = 1L
              Iterator.single(
                ThrottleKept(r.user_id, r.event_id, r.tsu, 1L, None))
            } else if (r.tsu >= lastKept + 86400000000L) {
              val gap = (r.tsu - lastKept) / 1000000L
              lastKept = r.tsu; rank += 1L
              Iterator.single(
                ThrottleKept(r.user_id, r.event_id, r.tsu, rank,
                  Some(gap)))
            } else Iterator.empty
          }
        }
        .toDF()
      kept.select(col("user_id"), col("event_id"),
          timestamp_micros(col("tsu")).as("ts"), col("kept_rank"),
          col("gap_s"))
        .orderBy(col("user_id"), col("kept_rank"))
    },
    Some("""
      WITH RECURSIVE ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS rn
        FROM events),
      kept AS (
        SELECT user_id, event_id, ts, 1 AS kept_rank FROM ev
        WHERE rn = 1
        UNION ALL
        SELECT n.user_id, n.event_id, n.ts, k.kept_rank + 1
        FROM kept k, LATERAL (
          SELECT e.user_id, e.event_id, e.ts
          FROM ev e
          WHERE e.user_id = k.user_id
            AND epoch_us(e.ts) >=
                epoch_us(k.ts) + CAST(86400 AS BIGINT) * 1000000
          ORDER BY e.ts, e.event_id LIMIT 1) n)
      SELECT user_id, event_id, ts, CAST(kept_rank AS BIGINT)
               AS kept_rank,
             (epoch_us(ts) - LAG(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY kept_rank)) // 1000000
               AS gap_s
      FROM kept
      ORDER BY user_id, kept_rank"""))

  /** Input/output rows for the ledger's typed per-partition scan. */
  private[analytics] case class LedgerIn(
      user_id: Long, event_id: Long, tsu: Long, d: Long)
  private[analytics] case class LedgerOut(
      user_id: Long, n_events: Long, final_balance_c: Long,
      floor_clamps: Long, cap_clamps: Long, absorbed_c: Long)

  /** Saturating running balance (token bucket / credit ledger) — per
    * user, in event order: balance(i) = clamp(balance(i−1) + Δᵢ,
    * 0, cap), starting from 2500 cents with cap 5000; purchases and
    * signups credit round(value·100) cents, other events debit the
    * same. The CLAMP is the point: a capped prefix sum is a
    * recurrence on the operator's own output (the clamp at step i
    * feeds step i+1), which no window/prefix-sum formulation
    * expresses — the same inherently-sequential class as
    * [[qEventsThrottle]], but with saturation ARITHMETIC rather than
    * a keep/drop decision: billing credits that can't go negative,
    * inventory with stockouts, and rate-limit token buckets all share
    * this shape. Output per user: final balance, how often each clamp
    * fired, and the total absorbed (clamped-away) cents — all exact
    * BIGINT cents ([[RelationalQueries]] micro-unit parity rule).
    *
    * The engine runs the secondary-sort pattern: hash-exchange on
    * user_id, sort each partition by (user, ts, event_id), ONE
    * streaming mapPartitions with O(1) state (six longs) — a sentinel
    * appended to the iterator flushes the last user's summary, and no
    * per-user event list ever materializes. The oracle is a recursive
    * CTE stepping the recurrence declaratively, so the gate certifies
    * the imperative scan against the declarative recurrence (the
    * [[qEventsThrottle]] proof discipline).
    *
    * Scale shape: one user-keyed exchange + one ordered scan; the
    * streaming twin is a keyed fold with the same six-long
    * state. Recursion depth in the oracle is max events/user —
    * bounded at the gate SFs; the ENGINE's cost never depends on it. */
  val qEventsLedger = Q(
    "q_events_ledger",
    (s, dir) => {
      import s.implicits._
      val cap = 5000L
      val start = 2500L
      val out = ev(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsu"),
          (when(col("event_type").isin("purchase", "signup"), lit(1L))
            .otherwise(lit(-1L)) *
            round(col("value") * 100).cast("long")).as("d"))
        .repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("tsu"), col("event_id"))
        .as[LedgerIn]
        .mapPartitions { it =>
          var cur = Long.MinValue
          var has = false
          var b = 0L; var n = 0L; var fc = 0L; var cc = 0L; var ab = 0L
          (it.map(Some(_)) ++ Iterator(None)).flatMap {
            case None =>
              if (has) Iterator.single(LedgerOut(cur, n, b, fc, cc, ab))
              else Iterator.empty
            case Some(r) =>
              val flush =
                if (has && r.user_id != cur)
                  Iterator.single(LedgerOut(cur, n, b, fc, cc, ab))
                else Iterator.empty
              if (!has || r.user_id != cur) {
                cur = r.user_id; has = true
                b = start; n = 0L; fc = 0L; cc = 0L; ab = 0L
              }
              val raw = b + r.d
              val clamped = math.max(0L, math.min(cap, raw))
              if (raw < 0L) fc += 1L
              if (raw > cap) cc += 1L
              ab += math.abs(raw - clamped)
              b = clamped
              n += 1L
              flush
          }
        }
        .toDF()
      out.orderBy(col("user_id"))
    },
    Some("""
      WITH RECURSIVE ev AS (
        SELECT user_id, event_id,
               CASE WHEN event_type IN ('purchase', 'signup') THEN 1
                    ELSE -1 END
                 * CAST(ROUND(value * 100) AS BIGINT) AS d,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS ne
        FROM events),
      bal AS (
        SELECT user_id, rn, ne,
               GREATEST(CAST(0 AS BIGINT),
                 LEAST(CAST(5000 AS BIGINT), 2500 + d)) AS b,
               CAST(CASE WHEN 2500 + d < 0 THEN 1 ELSE 0 END
                 AS BIGINT) AS fc,
               CAST(CASE WHEN 2500 + d > 5000 THEN 1 ELSE 0 END
                 AS BIGINT) AS cc,
               ABS(2500 + d - GREATEST(CAST(0 AS BIGINT),
                 LEAST(CAST(5000 AS BIGINT), 2500 + d))) AS ab
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, e.ne,
               GREATEST(CAST(0 AS BIGINT),
                 LEAST(CAST(5000 AS BIGINT), b.b + e.d)),
               b.fc + CASE WHEN b.b + e.d < 0 THEN 1 ELSE 0 END,
               b.cc + CASE WHEN b.b + e.d > 5000 THEN 1 ELSE 0 END,
               b.ab + ABS(b.b + e.d - GREATEST(CAST(0 AS BIGINT),
                 LEAST(CAST(5000 AS BIGINT), b.b + e.d)))
        FROM bal b JOIN ev e
          ON e.user_id = b.user_id AND e.rn = b.rn + 1)
      SELECT user_id, ne AS n_events, b AS final_balance_c,
             fc AS floor_clamps, cc AS cap_clamps, ab AS absorbed_c
      FROM bal WHERE rn = ne
      ORDER BY user_id"""))

  /** Time-decay multi-touch attribution — the fourth model of the
    * attribution family ([[qEventsAttribution]] endpoints,
    * [[qEventsAttributionPosition]] U-shaped, this one recency-
    * weighted): each touch's share of a conversion's 10000 basis
    * points is proportional to 2^(−age/half-life) with a 7-day
    * half-life — the model that matches "recent touches matter more"
    * budgeting. Exactness: the decay weight is the INTEGER
    * 1000000 >> (age_days DIV 7) (exact halving per full half-life,
    * zero beyond 62 halvings), per-conversion shares are integer
    * floor division of 10000·w by the conversion's weight total, and
    * the flooring remainder goes to the LAST touch — a total,
    * deterministic rule (the position model's discipline), so every
    * credit cell is BIGINT-exact. A conversion whose touches all
    * decayed to zero weight credits its last touch fully.
    *
    * Scale shape: identical envelope to the position model — one
    * user-keyed pairing join (per-user fan-out bounded), ONE
    * conv-partitioned window carrying position, count, weight total
    * AND the pre-last share sum, bounded channel rollup, one-row
    * grand-total broadcast. */
  val qEventsAttributionDecay = Q(
    "q_events_attribution_decay",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val e = ev(s, dir)
      val convs = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"),
          col("ts").as("conv_ts"))
      val touches = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type").as("channel"),
          col("ts").as("tts"), col("event_id").as("tid"))
      val w = Window.partitionBy(col("conv_id"))
      val wOrd = w.orderBy(col("tts"), col("tid"))
      val credited = convs.join(touches, Seq("user_id"))
        .filter(col("tts") < col("conv_ts"))
        .withColumn("age_hl", expr(
          "CAST(least((unix_micros(conv_ts) - unix_micros(tts)) " +
            "DIV 86400000000 DIV 7, 62) AS INT)"))
        .withColumn("wt", expr("shiftright(1000000L, age_hl)"))
        .withColumn("p", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("wsum", sum(col("wt")).over(w))
        .withColumn("floor_bp",
          when(col("wsum") === 0L, lit(0L))
            .otherwise(expr("(10000 * wt) DIV wsum")))
        .withColumn("credit_bp",
          when(col("p") === col("n"),
            lit(10000L) - (sum(col("floor_bp")).over(w) -
              col("floor_bp")))
            .otherwise(col("floor_bp")))
        .persist(MEMORY_AND_DISK)
      val tot = credited.agg(sum(col("credit_bp")).as("total_bp"))
      QueryScopedCache.releaseAfter(
        credited.groupBy(col("channel"))
          .agg(count(lit(1)).as("n_credited"),
            countDistinct(col("conv_id")).as("n_convs"),
            sum(col("credit_bp")).as("credit_bp"))
          .crossJoin(broadcast(tot))
          .select(col("channel"), col("n_credited"), col("n_convs"),
            col("credit_bp"),
            round(col("credit_bp").cast("double") /
              col("total_bp").cast("double"), 6).as("credit_share"))
          .orderBy(col("channel")),
        Seq(credited))
    },
    Some("""
      WITH convs AS (
        SELECT user_id, event_id AS conv_id, ts AS conv_ts
        FROM events WHERE event_type = 'purchase'),
      touches AS (
        SELECT user_id, event_type AS channel, ts AS tts,
               event_id AS tid
        FROM events WHERE event_type IN ('click', 'view')),
      paired AS (
        SELECT c.conv_id, t.channel, t.tts, t.tid,
               CAST(1000000 >> CAST(LEAST(
                 (epoch_us(c.conv_ts) - epoch_us(t.tts))
                   // 86400000000 // 7, 62) AS INTEGER) AS BIGINT)
                 AS wt,
               ROW_NUMBER() OVER (PARTITION BY c.conv_id
                 ORDER BY t.tts, t.tid) AS p,
               COUNT(*) OVER (PARTITION BY c.conv_id) AS n
        FROM convs c JOIN touches t USING (user_id)
        WHERE t.tts < c.conv_ts),
      floored AS (
        SELECT conv_id, channel, p, n, wt,
               CASE WHEN SUM(wt) OVER (PARTITION BY conv_id) = 0 THEN 0
                    ELSE (10000 * wt) //
                         SUM(wt) OVER (PARTITION BY conv_id) END
                 AS floor_bp
        FROM paired),
      credited AS (
        SELECT conv_id, channel,
               CAST(CASE WHEN p = n THEN 10000 -
                      (SUM(floor_bp) OVER (PARTITION BY conv_id)
                        - floor_bp)
                    ELSE floor_bp END AS BIGINT) AS credit_bp
        FROM floored),
      rolled AS (
        SELECT channel, COUNT(*) AS n_credited,
               COUNT(DISTINCT conv_id) AS n_convs,
               CAST(SUM(credit_bp) AS BIGINT) AS credit_bp
        FROM credited GROUP BY channel),
      tot AS (SELECT CAST(SUM(credit_bp) AS BIGINT) AS total_bp
              FROM credited)
      SELECT channel, n_credited, n_convs, credit_bp,
             ROUND(CAST(credit_bp AS DOUBLE) /
                   CAST(total_bp AS DOUBLE), 6) AS credit_share
      FROM rolled CROSS JOIN tot
      ORDER BY channel"""))

  /** Bot / automation screen by inter-arrival regularity — humans are
    * bursty, schedulers are metronomes: per user, the coefficient of
    * variation of inter-event gaps (in whole minutes), flagging users
    * whose gaps are suspiciously regular (CV < 0.9 with ≥ 20 gaps —
    * the fixture's gap CVs run 0.66…1.3 with median 0.97, so 0.9
    * separates a real most-regular cohort; a scheduler sits near 0) —
    * the traffic-quality filter a training-data pipeline runs before
    * trusting engagement events. The flag is EXACT: CV² < 0.81 is
    * cross-multiplied to 100·n·Σg² < 181·(Σg)² — no sqrt, no variance
    * rounding (the [[RelationalQueries.qStatsRuns]] decision
    * discipline); the readable mean/CV columns round once. The
    * cross-multiplied decision and the CV numerator run in
    * DECIMAL(25,0): with Σg up to n·2³⁰ the BIGINT products 181·(Σg)²
    * and 100·n·Σg² pass 2⁶³ long before the per-gap sums do (Spark
    * would wrap silently where DuckDB errors — the round-9 advice
    * finding), while the 38-digit decimal headroom holds to ~10¹⁸
    * total gap-minutes — beyond any calendar-plausible envelope.
    *
    * Scale shape: ONE user-keyed exchange carries the lag window and
    * the per-user rollup — bounded per-user state. */
  val qEventsBots = Q(
    "q_events_bots",
    (s, dir) => {
      val gaps = ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          unix_micros(col("ts")).as("tsu"))
        .withColumn("gap_min",
          expr("(tsu - lag(tsu, 1) over (partition by user_id " +
            "order by ts, event_id)) DIV 60000000"))
        .filter(col("gap_min").isNotNull)
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap_min")).as("sg"),
          sum(col("gap_min") * col("gap_min")).as("sg2"))
        .filter(col("n_gaps") >= 20 && col("sg") > 0)
        .select(col("user_id"), col("n_gaps"),
          round(col("sg").cast("double") / col("n_gaps").cast("double"),
            4).as("mean_gap_min"),
          round(sqrt(expr("cast(cast(n_gaps as decimal(25,0)) * sg2 " +
              "- cast(sg as decimal(25,0)) * sg as double)")) /
            col("sg").cast("double"), 4).as("cv"),
          expr("cast(100 as decimal(25,0)) * n_gaps * sg2 " +
            "< cast(181 as decimal(25,0)) * sg * sg").as("is_regular"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH gaps AS (
        SELECT user_id,
               (epoch_us(ts) - LAG(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id))
                 // 60000000 AS gap_min
        FROM events),
      agg AS (
        SELECT user_id, COUNT(*) AS n_gaps,
               CAST(SUM(gap_min) AS BIGINT) AS sg,
               CAST(SUM(gap_min * gap_min) AS BIGINT) AS sg2
        FROM gaps WHERE gap_min IS NOT NULL
        GROUP BY user_id)
      SELECT user_id, n_gaps,
             ROUND(CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE), 4)
               AS mean_gap_min,
             ROUND(SQRT(CAST(CAST(n_gaps AS DECIMAL(25,0)) * sg2
                 - CAST(sg AS DECIMAL(25,0)) * sg AS DOUBLE))
               / CAST(sg AS DOUBLE), 4) AS cv,
             CAST(100 AS DECIMAL(25,0)) * n_gaps * sg2
               < CAST(181 AS DECIMAL(25,0)) * sg * sg AS is_regular
      FROM agg
      WHERE n_gaps >= 20 AND sg > 0
      ORDER BY user_id"""))

  /** Inter-arrival latency quantiles per event type — the p50/p90/p99
    * SLA table for "how often does this signal arrive": per-user,
    * per-type consecutive gaps in whole minutes (the
    * [[qEventsBots]] gap derivation keyed one level finer), profiled
    * with EXACT order statistics. The tail percentiles are the ones
    * monitoring actually alerts on, and the ones sketches blur first
    * — here every cell is the true value at rank ⌈n·p/100⌉, BIGINT.
    *
    * Scale shape: the lag window partitions on (user_id, event_type)
    * — a near-unique composite, never a low-card funnel — and the
    * quantile profile is ONE
    * [[graft.operators.OrderStatistics.radixRanks]] pass (bucket
    * histogram + union-of-crossing-buckets walk, bounded cumulative
    * frames): two narrow scans for the whole three-point profile. */
  val qEventsGapQuantiles = Q(
    "q_events_gap_quantiles",
    (s, dir) => {
      val gaps = ev(s, dir)
        .select(col("event_type"), col("user_id"), col("ts"),
          col("event_id"), unix_micros(col("ts")).as("tsu"))
        .withColumn("gap_min",
          expr("(tsu - lag(tsu, 1) over (partition by user_id, " +
            "event_type order by ts, event_id)) DIV 60000000"))
        .filter(col("gap_min").isNotNull)
        .select(col("event_type").as("g"), col("gap_min").as("c"))
      graft.operators.OrderStatistics.radixRanks(gaps, Seq(50, 90, 99))
        .select(col("g").as("event_type"), col("pct"),
          col("n").as("n_gaps"), col("value").as("gap_min"))
        .orderBy(col("event_type"), col("pct"))
    },
    Some("""
      WITH gaps AS (
        SELECT event_type,
               (epoch_us(ts) - LAG(epoch_us(ts)) OVER
                 (PARTITION BY user_id, event_type
                  ORDER BY ts, event_id)) // 60000000 AS c
        FROM events),
      g2 AS (SELECT event_type AS g, c FROM gaps WHERE c IS NOT NULL),
      r AS (
        SELECT g, c,
               CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY c)
                 AS BIGINT) AS rn,
               COUNT(*) OVER (PARTITION BY g) AS n
        FROM g2),
      p AS (SELECT CAST(UNNEST([50, 90, 99]) AS BIGINT) AS pct)
      SELECT r.g AS event_type, p.pct, r.n AS n_gaps, r.c AS gap_min
      FROM r JOIN p ON r.rn = (r.n * p.pct + 99) // 100
      ORDER BY event_type, pct"""))

  val all: Seq[Q] = Seq(qEventsFunnel, qEventsRetention,
    qEventsTransitions, qEventsAnomaly, qEventsPaths, qEventsAttribution,
    qEventsFunnelTime, qEventsDauWau, qEventsWauSketch,
    qEventsCohortValue, qEventsRfm, qEventsPareto, qEventsSurvival,
    qEventsUplift, qEventsPower, qEventsMarkov, qEventsLifecycle,
    qEventsPattern, qEventsMau, qEventsAttributionPosition,
    qEventsPatternVar, qEventsSloBurn, qEventsStreak, qEventsThrottle,
    qEventsLedger, qEventsAttributionDecay, qEventsBots,
    qEventsGapQuantiles)
}
