package graft.analytics

import org.apache.spark.sql.functions._

/** Scalar expression families (string/date/math/regex/conditional/null/array/bitwise/interval) split out of RelationalQueries in round 10.
  *
  * Oracle-parity rules are RelationalQueries' (the driver hash-compares
  * values and schemas against DuckDB running `oracle` on the same
  * parquet); `all` concatenates into RelationalQueries.all, so the
  * registry surface and count pin are unchanged by the split. */
object ScalarQueries {
  import RelationalQueries.{Q, t}

  /** String family: upper/lower/length/substr/replace/concat. */
  val qScalarString = Q(
    "q_scalar_string",
    (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          lower(col("p_brand")).as("lbrand"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_type"), 1, 5).as("type5"),
          regexp_replace(col("p_name"), " ", "_").as("snake"),
          concat(col("p_brand"), lit("#"), col("p_size").cast("string"))
            .as("brand_size"))
        .orderBy(col("p_partkey")),
    Some("""
      SELECT p_partkey,
             UPPER(p_name) AS uname,
             LOWER(p_brand) AS lbrand,
             LENGTH(p_name) AS name_len,
             SUBSTR(p_type, 1, 5) AS type5,
             REPLACE(p_name, ' ', '_') AS snake,
             p_brand || '#' || CAST(p_size AS VARCHAR) AS brand_size
      FROM part ORDER BY p_partkey"""))

  /** Date family: extract/trunc/diff, long-typed both sides. */
  val qScalarDate = Q(
    "q_scalar_date",
    (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
            .cast("long").as("days_since_95"))
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             YEAR(o_orderdate) AS yr,
             MONTH(o_orderdate) AS mo,
             DAY(o_orderdate) AS dom,
             date_trunc('month', o_orderdate) AS month_start,
             date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since_95
      FROM orders ORDER BY o_orderkey"""))

  /** Calendar-interval family — the engine-switch hazards
    * [[qScalarDate]]'s extraction functions don't touch: month
    * arithmetic with end-of-month CLAMPING (add_months — both engines
    * clamp Jan 31 + 1 month to Feb 29/28, pinned here), last_day,
    * quarter truncation/extraction, ISO week-of-year, and day-of-week
    * NUMBERING — Spark's dayofweek is 1-based Sunday-first while
    * DuckDB's dayofweek is 0-based, so the query ships Spark's value
    * minus 1 and the oracle states DuckDB's directly: the off-by-one
    * every cross-engine port hits, made a gated contract. */
  val qScalarInterval = Q(
    "q_scalar_interval",
    (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          add_months(col("o_orderdate"), 3).as("plus_3mo"),
          last_day(col("o_orderdate")).as("month_end"),
          date_trunc("quarter", col("o_orderdate")).as("quarter_start"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
          (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"))
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3mo,
             last_day(CAST(o_orderdate AS DATE)) AS month_end,
             date_trunc('quarter', o_orderdate) AS quarter_start,
             CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
             CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
             CAST(dayofweek(o_orderdate) AS BIGINT) AS dow
      FROM orders ORDER BY o_orderkey"""))

  /** Math family (IEEE-exact ops only — no libm divergence). */
  val qScalarMath = Q(
    "q_scalar_math",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_linenumber") === 1)
        .select(
          col("l_orderkey"),
          sqrt(col("l_quantity")).as("sq"),
          abs(col("l_discount") - lit(0.05)).as("disc_gap"),
          ceil(col("l_extendedprice")).as("price_ceil"),
          floor(col("l_extendedprice")).as("price_floor"),
          (col("l_orderkey") % 7).as("key_mod"))
        // (l_orderkey, l_linenumber=1) is NOT unique in the fixture —
        // the extra keys make the order total on emitted content
        // (ties left row order engine-dependent; latent at sf0.1,
        // caught by the round-11 sf1 gate)
        .orderBy(col("l_orderkey"), col("price_floor"), col("sq"),
          col("disc_gap")),
    Some("""
      SELECT l_orderkey,
             SQRT(l_quantity) AS sq,
             ABS(l_discount - 0.05) AS disc_gap,
             CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
             CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
             l_orderkey % 7 AS key_mod
      FROM lineitem WHERE l_linenumber = 1
      ORDER BY l_orderkey, price_floor, sq, disc_gap"""))

  /** Bitwise scalar family — AND/OR/XOR, shifts, popcount, and the
    * pack-two-ints-into-one-key trick ([[qStatsGini]]'s composite
    * encoding as a gated scalar): the integer-bit toolbox behind
    * bitmap indexes ([[qAggBitmapDistinct]]), SimHash/pHash Hamming
    * distances, and bucket-id packing. Spark's `^`/`&`/`|`/`shiftleft`
    * and DuckDB's `xor()`/`&`/`|`/`<<` must agree bit-for-bit on
    * BIGINT for every one of those operators to gate — this query
    * pins that contract directly. */
  val qScalarBitwise = Q(
    "q_scalar_bitwise",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_linenumber") === 1)
        .select(
          col("l_orderkey"),
          (col("l_orderkey").bitwiseAND(col("l_partkey"))).as("k_and"),
          (col("l_orderkey").bitwiseOR(col("l_partkey"))).as("k_or"),
          (col("l_orderkey").bitwiseXOR(col("l_partkey"))).as("k_xor"),
          expr("shiftleft(l_suppkey, 20)").as("k_shl"),
          expr("shiftright(l_partkey, 3)").as("k_shr"),
          expr("cast(bit_count(l_orderkey ^ l_partkey) as bigint)")
            .as("hamming"),
          expr("l_partkey * 1048576 + l_suppkey").as("packed"))
        // `packed` determines (l_partkey, l_suppkey), so (l_orderkey,
        // packed) totally orders the emitted content — dup fixture
        // keys otherwise leave tie order engine-dependent (round-11
        // sf1 gate finding)
        .orderBy(col("l_orderkey"), col("packed")),
    Some("""
      SELECT l_orderkey,
             l_orderkey & l_partkey AS k_and,
             l_orderkey | l_partkey AS k_or,
             xor(l_orderkey, l_partkey) AS k_xor,
             l_suppkey << 20 AS k_shl,
             l_partkey >> 3 AS k_shr,
             CAST(bit_count(xor(l_orderkey, l_partkey)) AS BIGINT)
               AS hamming,
             l_partkey * 1048576 + l_suppkey AS packed
      FROM lineitem WHERE l_linenumber = 1
      ORDER BY l_orderkey, packed"""))

  /** Regex family (patterns kept in the Java∩RE2 common subset so both
    * engines agree). */
  val qScalarRegex = Q(
    "q_scalar_regex",
    (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").rlike("a[a-z]*e"))
        .select(
          col("p_partkey"),
          regexp_extract(col("p_name"), "([a-z]+) ", 1).as("first_word"),
          size(regexp_extract_all(col("p_name"), lit("[aeiou]"), lit(0)))
            .cast("long").as("n_vowels"),
          regexp_replace(col("p_type"), "[AEIOU]", "_").as("masked_type"))
        .orderBy(col("p_partkey")),
    Some("""
      SELECT p_partkey,
             regexp_extract(p_name, '([a-z]+) ', 1) AS first_word,
             len(regexp_extract_all(p_name, '[aeiou]')) AS n_vowels,
             regexp_replace(p_type, '[AEIOU]', '_', 'g') AS masked_type
      FROM part
      WHERE regexp_matches(p_name, 'a[a-z]*e')
      ORDER BY p_partkey"""))

  /** Conditional family: CASE, NULLIF, COALESCE, LEAST/GREATEST. */
  val qScalarConditional = Q(
    "q_scalar_conditional",
    (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 200000, lit("large"))
            .when(col("o_totalprice") > 100000, lit("medium"))
            .otherwise(lit("small")).as("bucket"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open"))
            .as("status_label"),
          least(col("o_totalprice"), lit(150000.0)).as("capped"),
          greatest(col("o_totalprice") - 150000.0, lit(0.0)).as("excess"))
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             CASE WHEN o_totalprice > 200000 THEN 'large'
                  WHEN o_totalprice > 100000 THEN 'medium'
                  ELSE 'small' END AS bucket,
             COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_label,
             LEAST(o_totalprice, 150000.0) AS capped,
             GREATEST(o_totalprice - 150000.0, 0.0) AS excess
      FROM orders ORDER BY o_orderkey"""))

  /** NULL semantics — the #1 cross-engine hazard a user switching
    * engines hits: COUNT(*) vs COUNT(col) vs COUNT(DISTINCT col) over
    * nulls, SUM/MIN over an all-NULL group returning NULL (never 0),
    * NULL group keys collapsing into one group, null-safe equality
    * (Spark `<=>` = SQL IS NOT DISTINCT FROM), and NULL SORT ORDER —
    * Spark defaults to NULLS FIRST ascending while DuckDB defaults to
    * NULLS LAST, so the oracle pins NULLS FIRST explicitly; leaving
    * either default implicit is exactly the silent-divergence this
    * query exists to catch. Nulls are synthesized deterministically
    * (o_orderkey mod patterns) since TPC-H data carries none. Money
    * sums ride integer cents (micro-unit parity rule). */
  val qScalarNullSemantics = Q(
    "q_scalar_null_semantics",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(
          when(col("o_orderkey") % 5 === 0, lit(null))
            .otherwise(col("o_orderpriority")).as("nk"),
          // round BEFORE the long cast: Spark's double→long cast
          // truncates while DuckDB's rounds, and 123.45·100 lands a
          // hair under the integer — scale-0 round is parity-safe
          when(col("o_orderkey") % 7 === 0, lit(null))
            .otherwise(round(col("o_totalprice") * 100).cast("long"))
            .as("cents"),
          when(col("o_orderkey") % 3 === 0, lit(null))
            .otherwise(col("o_orderstatus")).as("ns"))
      o.groupBy(col("nk"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("cents")).as("n_priced"),
          count_distinct(col("ns")).as("n_status"),
          sum(when(col("ns").isNull && col("nk").isNull, col("cents")))
            .as("allnull_sum"),
          sum(col("cents")).as("sum_cents"),
          min(col("ns")).as("min_status"),
          sum((col("ns") <=> col("nk")).cast("long")).as("n_nullsafe_eq"))
        .orderBy(asc_nulls_first("nk"))
    },
    Some("""
      SELECT nk,
             COUNT(*) AS n_rows,
             COUNT(cents) AS n_priced,
             COUNT(DISTINCT ns) AS n_status,
             CAST(SUM(CASE WHEN ns IS NULL AND nk IS NULL THEN cents END)
               AS BIGINT) AS allnull_sum,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             MIN(ns) AS min_status,
             CAST(SUM(CASE WHEN ns IS NOT DISTINCT FROM nk
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq
      FROM (
        SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE o_orderpriority END AS nk,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
               END AS cents,
               CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE o_orderstatus END AS ns
        FROM orders)
      GROUP BY nk
      ORDER BY nk NULLS FIRST"""))

  /** Array family over split words (slice / element access / contains /
    * negative indexing — DuckDB list ops mirror Spark array ops). */
  val qScalarArray = Q(
    "q_scalar_array",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(
          col("doc_id"),
          size(col("ws")).cast("long").as("n_words"),
          element_at(col("ws"), 1).as("first_word"),
          element_at(col("ws"), -1).as("last_word"),
          array_join(slice(col("ws"), 1, 3), " ").as("first3"),
          array_contains(col("ws"), "spark").as("has_spark"),
          array_position(col("ws"), "the").cast("long").as("the_pos"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             len(ws) AS n_words,
             ws[1] AS first_word,
             ws[-1] AS last_word,
             array_to_string(list_slice(ws, 1, 3), ' ') AS first3,
             list_contains(ws, 'spark') AS has_spark,
             COALESCE(list_position(ws, 'the'), 0) AS the_pos
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d
      ORDER BY doc_id"""))


  /** Registry consumed by RelationalQueries.all. */
  val all: Seq[Q] = Seq(qScalarString,
    qScalarDate,
    qScalarInterval,
    qScalarMath,
    qScalarBitwise,
    qScalarRegex,
    qScalarConditional,
    qScalarNullSemantics,
    qScalarArray)
}
