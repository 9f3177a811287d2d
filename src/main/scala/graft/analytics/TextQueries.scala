package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents`: quality scoring, n-gram
  * heuristic language ID, token counting (whitespace + BPE-ish regex),
  * and a sorted-vocabulary document fingerprint. All pure expression
  * work — single narrow stage over the corpus, embarrassingly parallel
  * at any scale. Ratios divide exact integers in double once, so both
  * engines produce identical bits.
  */
object TextQueries {
  import RelationalQueries.Q

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables(s, dir, "documents"))

  /** Stopword profiles for the n-gram language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "es" -> Seq("el", "la", "que", "los", "una", "por", "con", "para"),
    "fr" -> Seq("le", "les", "des", "est", "dans", "pour", "que", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "他", "这"))

  private def inList(w: Column, words: Seq[String]): Column =
    w.isInCollection(words)

  private def scoreCol(lang: String): Column =
    size(filter(col("ws"), w => inList(w, stopwords(lang))))
      .cast("long").as(s"s_$lang")

  private def sqlList(lang: String): String =
    stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  private def sqlScore(lang: String): String =
    s"len(list_filter(ws, w -> list_contains(${sqlList(lang)}, w))) AS s_$lang"

  /** Quality scoring: structural ratios + a deterministic composite. */
  val qTextQuality = Q(
    "q_text_quality",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), col("text"),
          split(col("text"), " ").as("ws"),
          length(col("text")).cast("long").as("n_chars_m"))
        .select(
          col("doc_id"),
          col("n_chars_m"),
          size(col("ws")).cast("long").as("n_words"),
          round((col("n_chars_m") - (size(col("ws")) - 1)) * lit(1.0) /
            size(col("ws")), 6).as("avg_word_len"),
          size(array_distinct(col("ws"))).cast("long").as("n_vocab"),
          round(size(array_distinct(col("ws"))) * lit(1.0) /
            size(col("ws")), 6).as("ttr"),
          round(size(filter(col("ws"),
              w => inList(w, stopwords("en")))) * lit(1.0) /
            size(col("ws")), 6).as("stopword_ratio"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             LENGTH(text) AS n_chars_m,
             len(ws) AS n_words,
             ROUND((LENGTH(text) - (len(ws) - 1)) * 1.0 / len(ws), 6)
               AS avg_word_len,
             len(list_distinct(ws)) AS n_vocab,
             ROUND(len(list_distinct(ws)) * 1.0 / len(ws), 6) AS ttr,
             ROUND(len(list_filter(ws, w -> list_contains(
                     ['the', 'of', 'and', 'to', 'in', 'is', 'that', 'it'], w)))
                   * 1.0 / len(ws), 6) AS stopword_ratio
      FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
            FROM documents) d
      ORDER BY doc_id"""))

  /** Language ID: per-language stopword hit counts, argmax with a fixed
    * priority order for ties (en > de > es > fr > zh). */
  val qTextLangid = Q(
    "q_text_langid",
    (s, dir) => {
      val langs = Seq("en", "de", "es", "fr", "zh")
      val scored = docs(s, dir)
        .select(Seq(col("doc_id"), split(col("text"), " ").as("ws")): _*)
        .select(Seq(col("doc_id")) ++ langs.map(scoreCol): _*)
      val best = greatest(langs.map(l => col(s"s_$l")): _*)
      scored
        .withColumn("predicted",
          when(col("s_en") === best, lit("en"))
            .when(col("s_de") === best, lit("de"))
            .when(col("s_es") === best, lit("es"))
            .when(col("s_fr") === best, lit("fr"))
            .otherwise(lit("zh")))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH scored AS (
        SELECT doc_id,
               ${Seq("en", "de", "es", "fr", "zh").map(sqlScore).mkString(",\n               ")}
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d)
      SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
             CASE
               WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
               WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
               WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
               WHEN s_fr = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
               ELSE 'zh'
             END AS predicted
      FROM scored ORDER BY doc_id"""))

  /** Token counting: whitespace tokens, regex word/number/symbol tokens
    * (a BPE-ish pre-tokenizer), and the chars/4 BPE estimate. */
  val qTextTokens = Q(
    "q_text_tokens",
    (s, dir) =>
      docs(s, dir)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")
            .as("re_tokens"),
          ceil(length(col("text")) / lit(4.0)).cast("long").as("bpe_est"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS ws_tokens,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
               AS re_tokens,
             CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS bpe_est
      FROM documents ORDER BY doc_id"""))

  /** Sorted-distinct-vocabulary fingerprint (word-order-insensitive
    * near-dup key) + collision group size. */
  val qTextFingerprint = Q(
    "q_text_fingerprint",
    (s, dir) => {
      val fp = md5(array_join(
        array_sort(array_distinct(split(col("text"), " "))), " "))
      val d = docs(s, dir).select(col("doc_id"), fp.as("fingerprint"))
      d.withColumn("n_same",
          count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("fingerprint"))))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
             MD5(array_to_string(list_sort(
               list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
             COUNT(*) OVER (PARTITION BY MD5(array_to_string(list_sort(
               list_distinct(string_split(text, ' '))), ' '))) AS n_same
      FROM documents ORDER BY doc_id"""))

  /** Corpus vocabulary: global token frequency with document
    * frequency, top 100 by count — the frequency table that seeds BPE
    * vocab construction and drives frequency-based filtering. Scale
    * shape: one explode + one map-side-combining groupBy keyed on the
    * token (the only shuffle carries (token, partial counts), never
    * documents), then a tiny top-k. Ties rank deterministically by
    * token text. */
  val qTextVocab = Q(
    "q_text_vocab",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_occurrences"),
          count_distinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occurrences").desc, col("w"))
        .limit(100),
    Some("""
      SELECT w, COUNT(*) AS n_occurrences,
             COUNT(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY w ORDER BY n_occurrences DESC, w LIMIT 100"""))

  /** Count-min sketch over the token stream — the point-query sibling
    * of the SpaceSaving top-k: d=3 counter rows × w=1024 counters,
    * positions by the same deterministic double-hash the Bloom
    * decontamination uses (Kirsch–Mitzenmacher: h1 + i·h2 over a
    * power-of-two width, odd stride, md5-uniform inputs, every step
    * ANSI-overflow-safe), counters built with ONE map-side-combined
    * aggregation over the vocabulary (never the raw token stream), a
    * point estimate = min over the 3 row counters. Mergeability is the
    * production story: counter tables from corpus shards ADD — the
    * shuffle carries at most 3·1024 rows per shard regardless of
    * corpus size.
    *
    * Like the Bloom filter — and unlike HLL/GK, whose buffers are
    * engine-private — every counter is deterministic integer algebra,
    * so DuckDB rebuilds the IDENTICAL sketch and the gate is a full
    * value hash-match: estimates, collisions, overestimates and all,
    * with the exact count alongside hash-checking the
    * never-underestimates invariant. */
  val qTextCountmin = Q(
    "q_text_countmin",
    (s, dir) => {
      val posExpr =
        """transform(sequence(0, 2), i ->
             (fp % 1024 + i * (2 * ((fp div 1048576) % 512) + 1))
               % 1024)"""
      val toks = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .withColumn("fp", DedupQueries.fingerprint(col("w")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hashed = toks
        .select(col("w"), col("n"), posexplode(expr(posExpr)))
        .select(col("w"), col("n"), col("pos").as("row_i"),
          col("col").as("cpos"))
      val counters = hashed
        .groupBy(col("row_i"), col("cpos")).agg(sum(col("n")).as("cnt"))
      val top = toks.orderBy(col("n").desc, col("w")).limit(30)
      val result = top
        .join(hashed.select(col("w"), col("row_i"), col("cpos")), "w")
        .join(counters, Seq("row_i", "cpos"))
        .groupBy(col("w"), col("n"))
        .agg(min(col("cnt")).as("cm_estimate"))
        .select(col("w"), col("n").as("n_exact"), col("cm_estimate"),
          (col("cm_estimate") >= col("n")).as("never_underestimates"))
        .orderBy(col("w"))
      QueryScopedCache.releaseAfter(result, Seq(toks))
    },
    Some("""
      WITH toks AS (
        SELECT w, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
      fp AS (
        SELECT w, n,
               CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS fp
        FROM toks),
      pos AS (
        SELECT w, n, i AS row_i,
               (fp % 1024 + i * (2 * ((fp // 1048576) % 512) + 1)) % 1024
                 AS cpos
        FROM fp, generate_series(0, 2) AS g(i)),
      counters AS (
        SELECT row_i, cpos, CAST(SUM(n) AS BIGINT) AS cnt
        FROM pos GROUP BY 1, 2),
      top AS (SELECT w, n FROM toks ORDER BY n DESC, w LIMIT 30)
      SELECT t.w, t.n AS n_exact, MIN(c.cnt) AS cm_estimate,
             MIN(c.cnt) >= t.n AS never_underestimates
      FROM top t
      JOIN pos p ON t.w = p.w
      JOIN counters c ON p.row_i = c.row_i AND p.cpos = c.cpos
      GROUP BY t.w, t.n
      ORDER BY t.w"""))

  /** Heavy hitters over the token stream via the [[graft.operators
    * .SpaceSaving]] typed `Aggregator` — the single-pass bounded-memory
    * answer to "top talkers" when the key space doesn't fit a groupBy
    * (the 100 TB case: at most `capacity` counters per partition
    * buffer, counter-wise merge, no key-space shuffle — only sketch
    * buffers move).
    *
    * Oracle-gated, not rows-only: capacity 64 exceeds this corpus's
    * whole vocabulary (31 at every SF), so no counter is ever evicted
    * and the sketch output IS the exact top-20 frequency table with
    * the same (count DESC, token ASC) tie-break the exact SQL uses.
    * The eviction/merge overestimate regime — where a sketch cannot
    * hash-match any exact engine — is property-tested in OperatorsSpec
    * (merge-tree bound) and AnalyticsSpec instead. */
  val qHeavyHitters = Q(
    "q_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      val toks = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("tok")).as[String]
      toks.select(graft.operators.HeavyHitters.spaceSaving(64))
        .toDF("hh")
        .select(posexplode(col("hh")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("col._1").as("token"), col("col._2").as("est_count"))
        .filter(col("rank") <= 20)
        .orderBy(col("rank"))
    },
    Some("""
      SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rank,
             tok AS token, COUNT(*) AS est_count
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok ORDER BY est_count DESC, token LIMIT 20"""))

  /** Repetition-quality signals (the Gopher-style repetition filters):
    * per-document duplicate-bigram / duplicate-trigram fractions and
    * the most frequent bigram with its mass fraction. Documents whose
    * text is dominated by one repeated phrase are the classic
    * boilerplate/spam failure mode these filters remove before
    * pretraining.
    *
    * Scale shape: ZERO exchanges before the final orderBy — all three
    * signals (duplicate fractions AND the top-bigram argmax) come out
    * of one narrow pass through the native
    * [[graft.functions.RepetitionStats]] expression, whose per-row
    * hash aggregate is O(doc length) in time and state — the same
    * bound as holding the split word array at all. The earlier shape
    * kept the argmax distributed (explode → (doc, bigram)-keyed
    * groupBy → per-doc window) on the argument that a per-row HOF
    * argmax is O(len²); that's true of interpreted HOF compares, not
    * of an in-row hash map — and dropping the corpus-sized bigram
    * explode + shuffle + window measured 4.3 s → 0.4 s at sf0.1 with
    * hash-identical output. */
  val qTextRepetition = Q(
    "q_text_repetition",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.repetitionStats(
            split(col("text"), " ")).as("r"))
        // docs with no bigrams never surfaced from the old explode
        .filter(col("r.n_bigrams") >= 1)
        .select(col("doc_id"),
          col("r.top_bigram").as("top_bigram"),
          col("r.top_n").as("top_bigram_n"),
          round(col("r.top_n") * lit(1.0) / col("r.n_bigrams"), 6)
            .as("top_bigram_frac"),
          round(lit(1.0) - col("r.n_distinct_bg") * lit(1.0) /
            col("r.n_bigrams"), 6).as("dup_bigram_frac"),
          when(col("r.n_trigrams") === 0, lit(0.0))
            .otherwise(round(lit(1.0) - col("r.n_distinct_tg") * lit(1.0) /
              col("r.n_trigrams"), 6)).as("dup_trigram_frac"))
        .orderBy(col("doc_id")),
    Some("""
      WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      grams AS (
        SELECT doc_id,
               len(ws) - 1 AS n_bigrams,
               CASE WHEN len(ws) >= 2
                    THEN list_transform(range(1, len(ws)),
                           i -> ws[i] || ' ' || ws[i+1])
                    ELSE [] END AS bg,
               CASE WHEN len(ws) >= 3
                    THEN list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                    ELSE [] END AS tg
        FROM base),
      e AS (
        SELECT doc_id, n_bigrams,
               ROUND(1.0 - len(list_distinct(bg)) * 1.0 / len(bg), 6)
                 AS dup_bigram_frac,
               CASE WHEN len(tg) = 0 THEN 0.0
                    ELSE ROUND(1.0 - len(list_distinct(tg)) * 1.0 / len(tg), 6)
               END AS dup_trigram_frac,
               unnest(bg) AS bg
        FROM grams),
      c AS (
        SELECT doc_id, n_bigrams, dup_bigram_frac, dup_trigram_frac, bg,
               COUNT(*) AS n
        FROM e GROUP BY ALL),
      r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY n DESC, bg) AS rn
        FROM c)
      SELECT doc_id, bg AS top_bigram, n AS top_bigram_n,
             ROUND(n * 1.0 / n_bigrams, 6) AS top_bigram_frac,
             dup_bigram_frac, dup_trigram_frac
      FROM r WHERE rn = 1 ORDER BY doc_id"""))

  /** Unigram-LM quality score: per-document mean negative log
    * likelihood under the corpus's own unigram distribution — the
    * cheap stand-in for the KenLM/CCNet perplexity filter every
    * pretraining pipeline runs (low = generic/repetitive text, high =
    * rare-token-heavy).
    *
    * Scale shape: ONE map-side-combining aggregation over the token
    * stream builds the (doc_id, token) profile; the LM table derives
    * from that profile by a second, much smaller aggregation keyed on
    * token — both consumers sit on the SAME (doc_id, token) exchange,
    * so Catalyst's ReuseExchange scans and explodes the corpus once.
    * Shuffles carry counts, never text. The LM table is bounded by
    * the vocabulary and broadcast to the scoring join; the corpus-
    * total scalar rides a single-row broadcast cross join
    * (whitelisted BNLJ site, same pattern as the dedup stop-shingle
    * threshold).
    *
    * Cross-engine parity: per-token NLL is rounded to 6dp (absorbing
    * libm `ln` last-ulp differences) and accumulated as DECIMAL so the
    * per-doc sum is exact and order-independent in both engines; the
    * per-doc mean stays in exact integer MICRO-units (floor division
    * of the micro-scaled sum — round-9 hardening: ROUND of a double
    * quotient hit a 6th-decimal representation tie at sf0.1 where the
    * two engines' rounding diverged by 1e-6; integer division cannot
    * tie). */
  val qTextLogprob = Q(
    "q_text_logprob",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val perDoc = toks.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("n"))
      val vocab = perDoc.groupBy(col("w")).agg(sum(col("n")).as("n_w"))
      val total = vocab.agg(sum(col("n_w")).cast("long").as("n_total"))
      val lm = vocab.crossJoin(broadcast(total))
        .select(col("w"),
          round(-log(col("n_w") * lit(1.0) / col("n_total")), 6)
            .cast("decimal(25,6)").as("nll"))
      perDoc.join(broadcast(lm), "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).cast("long").as("n_tokens"),
          (sum(col("nll") * col("n").cast("decimal(12,0)")) * lit(1000000))
            .cast("long").as("sum_micro"))
        .select(col("doc_id"), col("n_tokens"),
          expr("CAST(sum_micro DIV n_tokens AS BIGINT)")
            .as("mean_nll_micro"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      vocab AS (
        SELECT w, COUNT(*) AS n_w FROM toks GROUP BY w),
      total AS (
        SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM vocab),
      lm AS (
        SELECT w, CAST(ROUND(-LN(n_w * 1.0 / n_total), 6)
                       AS DECIMAL(25,6)) AS nll
        FROM vocab, total),
      per_doc AS (
        SELECT doc_id, w, COUNT(*) AS n FROM toks GROUP BY doc_id, w)
      SELECT d.doc_id,
             CAST(SUM(d.n) AS BIGINT) AS n_tokens,
             CAST(SUM(lm.nll * CAST(d.n AS DECIMAL(12,0))) * 1000000
                  AS BIGINT) // CAST(SUM(d.n) AS BIGINT) AS mean_nll_micro
      FROM per_doc d JOIN lm USING (w)
      GROUP BY d.doc_id ORDER BY d.doc_id"""))

  /** Interpolated bigram LM negative log-likelihood per document —
    * the quality-filter step past [[qTextLogprob]]'s unigram: fluent
    * text has predictable ADJACENT-word structure that unigram
    * frequency cannot see, so per-doc mean NLL under
    * p(w|w₋₁) = 0.75·p_bigram + 0.25·p_unigram (fixed Jelinek-Mercer
    * interpolation; the unigram floor keeps unseen-in-context words
    * finite) separates fluent from shuffled/boilerplate text far more
    * sharply. Same parity discipline as the unigram: each conditional
    * NLL rounds to a 6-digit DECIMAL once, per-doc sums weight those
    * decimals (order-independent), and the per-doc mean stays in
    * exact integer micro-units (floor division — see
    * [[qTextLogprob]]'s round-9 tie-hardening note; this query is
    * where the 6th-decimal double-rounding tie actually surfaced at
    * sf0.1).
    *
    * Scale shape: bigram extraction happens IN-ROW on the token array
    * (no positional explode + self-join); the corpus-level bigram LM
    * is built by (w_prev, w) aggregation and joined back to per-doc
    * bigram counts by SORT-MERGE on the same key — deliberately NOT
    * broadcast, because a web corpus's bigram table scales far past
    * any broadcast threshold (the unigram sibling's broadcast-vocab
    * assumption does not transfer). Only the one-row token total and
    * the per-context table ride broadcasts. */
  val qTextBigramLogprob = Q(
    "q_text_bigram_logprob",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val bigrams = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(2, size(ws)),
               i -> struct(element_at(ws, i - 1) as wp,
                           element_at(ws, i) as w))""")).as("b"))
        .select(col("doc_id"), col("b.wp").as("wp"), col("b.w").as("w"))
      val perDoc = bigrams.groupBy(col("doc_id"), col("wp"), col("w"))
        .agg(count(lit(1)).as("n")).persist(MEMORY_AND_DISK)
      val nBig = perDoc.groupBy(col("wp"), col("w"))
        .agg(sum(col("n")).as("n_big"))
      val nCtx = nBig.groupBy(col("wp")).agg(sum(col("n_big")).as("n_ctx"))
      val toks = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
      val total = vocab.agg(sum(col("n_w")).cast("long").as("n_total"))
      val lm = nBig
        .join(broadcast(nCtx), "wp")
        .join(vocab, "w")
        .crossJoin(broadcast(total))
        .select(col("wp"), col("w"),
          round(-log(
            expr("0.75 * n_big / n_ctx + 0.25 * n_w / n_total")), 6)
            .cast("decimal(25,6)").as("nll"))
      val result = perDoc.join(lm, Seq("wp", "w"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).cast("long").as("n_bigrams"),
          (sum(col("nll") * col("n").cast("decimal(12,0)")) * lit(1000000))
            .cast("long").as("sum_micro"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("CAST(sum_micro DIV n_bigrams AS BIGINT)")
            .as("mean_nll_micro"))
        .orderBy(col("doc_id"))
      QueryScopedCache.releaseAfter(result, Seq(perDoc))
    },
    Some("""
      WITH b AS (
        SELECT doc_id, ws[i - 1] AS wp, ws[i] AS w
        FROM (SELECT doc_id, ws,
                     unnest([x for x in generate_series(2, len(ws))]) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents)
              WHERE len(ws) >= 2)),
      per_doc AS (
        SELECT doc_id, wp, w, COUNT(*) AS n FROM b GROUP BY 1, 2, 3),
      n_big AS (
        SELECT wp, w, CAST(SUM(n) AS BIGINT) AS n_big
        FROM per_doc GROUP BY 1, 2),
      n_ctx AS (
        SELECT wp, CAST(SUM(n_big) AS BIGINT) AS n_ctx
        FROM n_big GROUP BY 1),
      vocab AS (
        SELECT w, COUNT(*) AS n_w
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
      total AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM vocab),
      lm AS (
        SELECT g.wp, g.w,
               CAST(ROUND(-LN(0.75 * n_big / n_ctx + 0.25 * n_w / n_total),
                          6) AS DECIMAL(25,6)) AS nll
        FROM n_big g
        JOIN n_ctx USING (wp) JOIN vocab USING (w) CROSS JOIN total)
      SELECT d.doc_id,
             CAST(SUM(d.n) AS BIGINT) AS n_bigrams,
             CAST(SUM(lm.nll * CAST(d.n AS DECIMAL(12,0))) * 1000000
                  AS BIGINT) // CAST(SUM(d.n) AS BIGINT) AS mean_nll_micro
      FROM per_doc d JOIN lm USING (wp, w)
      GROUP BY d.doc_id ORDER BY d.doc_id"""))

  /** BPE merge-pair learning step: the frequency table of adjacent
    * character pairs inside words, weighted by word frequency — the
    * statistic one iteration of byte-pair-encoding vocabulary learning
    * maximizes (the top row IS the first BPE merge; re-running after a
    * merge yields the next).
    *
    * Scale shape — the insight that makes BPE learnable on a 100 TB
    * corpus: aggregate the token stream to its (word, count) frequency
    * table FIRST (map-side-combining groupBy; the shuffle shrinks from
    * corpus size to vocabulary size), then enumerate pairs IN-ROW over
    * the tiny vocabulary and run the pair aggregation over
    * vocab × pairs-per-word rows — the corpus text is never exploded
    * into character pairs. Ties rank deterministically by pair text. */
  val qTextBpePairs = Q(
    "q_text_bpe_pairs",
    (s, dir) =>
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .filter(length(col("w")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair"))
        .agg(sum(col("n")).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("pair"))
        .limit(30),
    Some("""
      WITH w AS (
        SELECT w, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
      p AS (
        SELECT substr(w, i, 2) AS pair, n
        FROM (SELECT w, n, unnest(generate_series(1, length(w) - 1)) AS i
              FROM w WHERE length(w) >= 2))
      SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
      FROM p GROUP BY pair
      ORDER BY n_occurrences DESC, pair LIMIT 30"""))

  /** Greedy left-to-right application of one learned merge (a, b) →
    * "ab" to a symbol array — the classical BPE re-tokenization fold:
    * walk the symbols once, gluing the current symbol onto the
    * accumulator's tail when the tail/current pair matches the merge
    * (so "aaa" under (a,a) becomes [aa, a], first-occurrence-wins,
    * exactly the reference implementations' behavior). Pure Column
    * expression — codegen'd, no UDF. */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 &&
          element_at(acc, lit(-1)) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Learn `steps` BPE merges from the corpus — the iterative loop
    * [[qTextBpePairs]] computes one step of. Returns
    * (step, left, right, pair_count) in learned order; stops early if
    * the vocabulary runs out of adjacent pairs.
    *
    * Scale shape, per iteration: the corpus collapsed to its (word,
    * count) vocabulary ONCE up front (the shuffle shrinks from corpus
    * to vocabulary size and never grows back); pair statistics
    * aggregate vocab × pairs-per-word rows with a map-side combine;
    * only the single argmax row ever reaches the driver (TakeOrdered,
    * the q_prep_tokenize discipline). Each merge rewrites the symbol
    * column and `localCheckpoint`s it — the [[DedupQueries
    * .resolveClusters]] iteration discipline: lineage stays O(1) deep
    * instead of O(steps), so step 50 plans as fast as step 1.
    * Symbols are strings, so a merged symbol is its concatenation —
    * faithful to BPE as published (Sennrich et al. 2016), where pair
    * counts include overlapping occurrences. */
  def learnMerges(d: DataFrame, steps: Int): Seq[(Int, String, String, Long)] = {
    var vocab = d.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(split(col("w"), "").as("syms"), col("n"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var exhausted = false
    (1 to steps).foreach { i =>
      if (!exhausted) {
        val top = vocab
          .filter(size(col("syms")) >= 2)
          .select(col("n"), explode(expr(
            """transform(sequence(1, size(syms) - 1),
                 j -> struct(element_at(syms, j) AS a,
                             element_at(syms, j + 1) AS b))""")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, cnt) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          out += ((i, a, b, cnt))
          // superseded vocab generations are checkpoint blocks — the
          // context cleaner frees them once unreferenced (the
          // resolveClusters discipline; nothing enters cacheManager)
          vocab = vocab
            .select(applyMerge(col("syms"), a, b).as("syms"), col("n"))
            .localCheckpoint(true)
        }
      }
    }
    out.toSeq
  }

  /** Tokenize a corpus with a learned merge list — the APPLY side of
    * [[learnMerges]], completing the BPE story: split each word to
    * character symbols and replay the merges IN LEARNED ORDER, each
    * one the same greedy fold the learner used (so training and
    * inference tokenize identically — the property BPE deployments
    * depend on). The whole merge chain composes into ONE narrow
    * projection — no shuffle, no per-merge pass over the corpus; at
    * 100 TB this is a map-only stage whose cost is merges × word
    * length per row (spec-asserted exchange-free). Output:
    * (doc_id, word_pos, token_pos, token). */
  def encodeWithMerges(d: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val syms = merges.sortBy(_._1).foldLeft(split(col("w"), "")) {
      case (c, (_, a, b, _)) => applyMerge(c, a, b)
    }
    d.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("word_pos"),
        col("col").as("w"))
      .filter(length(col("w")) >= 1)
      .select(col("doc_id"), col("word_pos"), posexplode(syms))
      .select(col("doc_id"), col("word_pos"),
        col("pos").cast("long").as("token_pos"), col("col").as("token"))
  }

  /** The learned-merge contract, shaped for the differential gate the
    * way the sketch queries are ([[RelationalQueries.qHllDistinct]]):
    * DuckDB cannot replay an iterative driver loop, but the loop's
    * CONTRACT is independently checkable in-engine — for each learned
    * step i, re-derive the vocabulary state from scratch (base symbols
    * + merges 1..i-1 applied in one plan, no checkpoint chain) and
    * verify that merge i is that state's argmax pair under the
    * (count desc, pair asc) order, emitting the verdict; the oracle
    * emits literal trues. A wrong merge choice, a mis-applied
    * re-tokenization, or a broken tie-break all flip a verdict and
    * fail the hash-match. */
  val qTextBpeMerges = Q(
    "q_text_bpe_merges",
    (s, dir) => {
      import s.implicits._
      val steps = 3
      val merges = learnMerges(docs(s, dir), steps)
      // materialized once: each step's independent re-derivation folds
      // over this base instead of re-collapsing the corpus
      val base = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .select(split(col("w"), "").as("syms"), col("n"))
        .localCheckpoint(true)
      val verdicts = merges.map { case (i, a, b, cnt) =>
        // state before step i, re-derived in ONE independent plan
        val state = merges.takeWhile(_._1 < i).foldLeft(base) {
          case (v, (_, pa, pb, _)) =>
            v.select(applyMerge(col("syms"), pa, pb).as("syms"), col("n"))
        }
        val top = state
          .filter(size(col("syms")) >= 2)
          .select(col("n"), explode(expr(
            """transform(sequence(1, size(syms) - 1),
                 j -> struct(element_at(syms, j) AS a,
                             element_at(syms, j + 1) AS b))""")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()(0)
        (i.toLong,
          top.getString(0) == a && top.getString(1) == b &&
            top.getLong(2) == cnt)
      }
      verdicts.toDF("step", "is_argmax").orderBy(col("step"))
    },
    Some("""
      SELECT CAST(unnest(generate_series(1, 3)) AS BIGINT) AS step,
             TRUE AS is_argmax
      ORDER BY step"""))

  /** Corpus data card: the per-stratum profile (documents, tokens,
    * length percentiles, lexical diversity) a pretraining pipeline
    * publishes alongside the dataset and re-checks after every filter
    * step — the summary that makes mixture decisions ([[PrepQueries
    * .qPrepMixture]]) evidence-based.
    *
    * Scale shape: one narrow pass computes per-doc stats, then one
    * aggregation keyed on the (tiny) stratum key. The length
    * percentiles here are EXACT (`percentile` sorts each group's
    * values) because the oracle must hash-match; at 100 TB swap in
    * the mergeable GK sketch ([[RelationalQueries.qQuantileSketch]]'s
    * `approx_percentile`) — same query shape, bounded memory. The
    * mean TTR stays in integer MICRO-units end to end (per-doc
    * `n_vocab·1e6 DIV n_words`, mean by integer division): a
    * float-rounded mean landed exactly on a .5 micro boundary on this
    * corpus, where Spark's shortest-decimal HALF_UP and DuckDB's
    * binary-value rounding disagree by one ulp — integer arithmetic
    * has no such edge, in any engine, at any scale. */
  val qStatsDatacard = Q(
    "q_stats_datacard",
    (s, dir) =>
      docs(s, dir)
        .select(col("lang"), col("source"), split(col("text"), " ").as("ws"))
        .select(col("lang"), col("source"),
          size(col("ws")).cast("long").as("n_words"),
          expr("CAST(size(array_distinct(ws)) AS BIGINT) * 1000000" +
            " DIV size(ws)").as("ttr_micro"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_tokens"),
          round(expr("percentile(n_words, 0.5D)"), 6).as("p50_words"),
          round(expr("percentile(n_words, 0.9D)"), 6).as("p90_words"),
          sum(col("ttr_micro")).as("s_ttr"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          col("p50_words"), col("p90_words"),
          expr("s_ttr DIV n_docs").as("mean_ttr_micro"))
        .orderBy(col("lang"), col("source")),
    Some("""
      WITH d AS (
        SELECT lang, source, len(ws) AS n_words,
               CAST(len(list_distinct(ws)) AS BIGINT) * 1000000 // len(ws)
                 AS ttr_micro
        FROM (SELECT lang, source, string_split(text, ' ') AS ws
              FROM documents))
      SELECT lang, source,
             COUNT(*) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_tokens,
             ROUND(quantile_cont(n_words, 0.5), 6) AS p50_words,
             ROUND(quantile_cont(n_words, 0.9), 6) AS p90_words,
             CAST(SUM(ttr_micro) // COUNT(*) AS BIGINT) AS mean_ttr_micro
      FROM d GROUP BY lang, source ORDER BY lang, source"""))

  /** BM25 lexical retrieval: top-10 documents per query under the
    * Lucene-variant BM25 (k1=1.2, b=0.75,
    * idf = ln(1 + (N − df + ½)/(df + ½))). The 8 fixed queries (3
    * terms each) are DERIVED from the corpus — the 24 most frequent
    * words, ranked (count desc, word) — so the query set is
    * deterministic at every scale factor with no literals to drift.
    *
    * Scale shape: the postings build is the same (doc_id, token)
    * aggregation the LM queries use — shuffles carry counts, never
    * text. The query-term table (24 rows, idf attached) broadcasts to
    * the postings probe, so scoring is one narrow pass over the
    * postings that survive the term filter; doc length joins by
    * doc_id; the corpus-stat scalar rides the whitelisted single-row
    * broadcast cross join. Ranking shuffles only (qid, doc, score) —
    * candidates, bounded by |queries|×docs-matching-a-term, not the
    * corpus.
    *
    * Cross-engine parity: every constant is an explicit DOUBLE in
    * both engines, arithmetic is parenthesized identically, each
    * per-term score rounds to 6dp ONCE into DECIMAL, and per-doc
    * totals are decimal sums (order-independent) cast to double at
    * the end — the [[qTextLogprob]] discipline. */
  /** Per-(query, doc) BM25 totals — the scoring core shared by
    * [[qTextBm25]] and the hybrid fusion
    * ([[SimilarityQueries.qSimHybridRrf]]). Returns
    * ((qid, doc_id, score<double>), cache handles): the postings
    * aggregation feeds FOUR consumers (doc lengths, document
    * frequencies, the corpus stats, the scoring probe), so it persists
    * once — the corpus tokenizes a single time, not per consumer —
    * and the caller releases the handle after its final action
    * ([[DedupQueries]]' two-frame screenBatch discipline). */
  private[analytics] def bm25PerDoc(s: SparkSession,
      dir: String): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("n"))
      .persist(MEMORY_AND_DISK)
    val dl = tf.groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("long").as("n_total"))
    val dfT = tf.groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("n")).cast("long").as("n_w"))
    val top = dfT.orderBy(col("n_w").desc, col("w")).limit(24)
    val qt = top.agg(sort_array(collect_list(
        struct((-col("n_w")).as("negn"), col("w"), col("df")))).as("ts"))
      .select(posexplode(col("ts")))
      .crossJoin(broadcast(stats))
      .select(col("col.w").as("w"),
        expr("CAST(pos DIV 3 AS BIGINT)").as("qid"),
        round(log(lit(1.0) + (col("n_docs") - col("col.df") + lit(0.5)) /
          (col("col.df") + lit(0.5))), 6).as("idf"))
    val scored = tf.join(broadcast(qt), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        round(col("idf") * ((col("n") * lit(2.2)) /
          (col("n") + lit(0.3) + lit(0.9) *
            (col("dl") * col("n_docs") / col("n_total")))), 6)
          .cast("decimal(25,6)").as("ts"))
    (scored.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("ts")).cast("double").as("score")), Seq(tf))
  }

  /** The BM25 scoring CTE chain shared verbatim by the [[qTextBm25]]
    * oracle and the hybrid-fusion oracle: defines `bm_per_doc(qid,
    * doc_id, score)`. Expects `documents` in scope. */
  private[analytics] val bm25OracleCtes: String = """
      bm_tf AS (
        SELECT doc_id, w, COUNT(*) AS n
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id, w),
      bm_dl AS (
        SELECT doc_id, CAST(SUM(n) AS BIGINT) AS dl
        FROM bm_tf GROUP BY doc_id),
      bm_stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_total
        FROM bm_dl),
      bm_dft AS (
        SELECT w, COUNT(*) AS df, CAST(SUM(n) AS BIGINT) AS n_w
        FROM bm_tf GROUP BY w),
      bm_qt AS (
        SELECT w, CAST((rn - 1) // 3 AS BIGINT) AS qid,
               ROUND(LN(CAST(1.0 AS DOUBLE) +
                 (n_docs - df + CAST(0.5 AS DOUBLE)) /
                 (df + CAST(0.5 AS DOUBLE))), 6) AS idf
        FROM (SELECT w, df, n_w,
                     ROW_NUMBER() OVER (ORDER BY n_w DESC, w) AS rn
              FROM bm_dft) x
        CROSS JOIN bm_stats
        WHERE rn <= 24),
      bm_scored AS (
        SELECT bm_qt.qid, bm_tf.doc_id,
               CAST(ROUND(bm_qt.idf * ((bm_tf.n * CAST(2.2 AS DOUBLE)) /
                 (bm_tf.n + CAST(0.3 AS DOUBLE) + CAST(0.9 AS DOUBLE) *
                   (bm_dl.dl * bm_stats.n_docs / bm_stats.n_total))), 6)
                 AS DECIMAL(25,6)) AS ts
        FROM bm_tf JOIN bm_qt USING (w) JOIN bm_dl USING (doc_id)
        CROSS JOIN bm_stats),
      bm_per_doc AS (
        SELECT qid, doc_id, CAST(SUM(ts) AS DOUBLE) AS score
        FROM bm_scored GROUP BY qid, doc_id)"""

  val qTextBm25 = Q(
    "q_text_bm25",
    (s, dir) => {
      val (perDoc, handles) = bm25PerDoc(s, dir)
      val result = SimilarityQueries.topKPer(perDoc, Seq(col("qid")),
          Seq(col("score").desc, col("doc_id")), 10)
        .select(col("qid"), col("rank"), col("doc_id"), col("score"))
        .orderBy(col("qid"), col("rank"))
      QueryScopedCache.releaseAfter(result, handles)
    },
    Some(bm25OracleSql))

  /** The complete BM25 top-10 oracle — shared VERBATIM by the inline
    * query and the stored-index twins, so their hash-matches prove the
    * persisted index (and its admit→reingest lifecycle) scores
    * identically to an engine that never stored anything. */
  private[analytics] lazy val bm25OracleSql: String = s"""
      WITH $bm25OracleCtes,
      ranked AS (
        SELECT qid, doc_id, score,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rank
        FROM bm_per_doc)
      SELECT qid, rank, doc_id, score FROM ranked
      WHERE rank <= 10 ORDER BY qid, rank"""

  /** The ingest phase of [[qTextBm25Stored]] — exposed separately so
    * Bench can time the one-off index build apart from the per-query
    * search a serving pipeline pays per request. */
  def bm25StoredIngest(s: SparkSession, dir: String,
      store: String = "graft_textindex"): Unit =
    TextIndex.ingest(docs(s, dir).select(col("doc_id"), col("text")), store)

  /** The search phase of [[qTextBm25Stored]] against a built index:
    * query set from the frozen dictionary, scores from the stored
    * postings — no corpus read anywhere. */
  def bm25StoredSearch(s: SparkSession,
      store: String = "graft_textindex"): DataFrame =
    TextIndex.search(s, store, TextIndex.derivedQueries(s, store))

  /** The stored-index twin of [[qTextBm25]]: [[TextIndex]] ingest
    * (postings + dictionary + stats persisted as catalog tables) then
    * search against the STORE — sharing the inline query's oracle
    * VERBATIM. The self-contained registered query pays the ingest; a
    * production pipeline pays it once and serves every query from the
    * tables ([[SignatureStore]]'s economics, for lexical search). */
  val qTextBm25Stored = Q(
    "q_text_bm25_stored",
    (s, dir) => {
      bm25StoredIngest(s, dir)
      bm25StoredSearch(s)
    },
    Some(bm25OracleSql))

  /** The full store lifecycle under the SAME oracle: ingest the corpus
    * MINUS a held-out batch, [[TextIndex.admit]] the batch under
    * frozen geometry, then [[TextIndex.reingest]] — which recomputes
    * dictionary and statistics from STORED POSTINGS ONLY (no corpus
    * re-read; postings are lossless, the deliberate contrast with
    * [[VectorIndex.reingest]]'s originals re-read). Sharing
    * [[qTextBm25]]'s oracle verbatim makes the hash-match a PROOF that
    * admit+reingest converges to exactly the scores of a from-scratch
    * full-corpus ingest — the lifecycle guarantee a daily-crawl
    * pipeline relies on. Any split works (reingest sees every stored
    * posting); doc_id % 10 = 7 holds out ~10% at every scale factor. */
  val qTextBm25Reingested = Q(
    "q_text_bm25_reingested",
    (s, dir) => {
      val store = "graft_textindex_rg"
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      TextIndex.ingest(d.filter(col("doc_id") % 10 =!= 7), store)
      TextIndex.admit(s, store, d.filter(col("doc_id") % 10 === 7))
      TextIndex.reingest(s, store)
      bm25StoredSearch(s, store)
    },
    Some(bm25OracleSql))

  /** TF-IDF sparse-cosine document similarity — "related documents"
    * for a query batch via the TERM-PARTITIONED postings join (the
    * classic MapReduce pairwise-similarity decomposition, Elsayed et
    * al. 2008): a pair's dot product is the sum over SHARED terms of
    * weight products, so the postings equi-join on the term computes
    * every pair's partial products exactly where the term lives — no
    * document-vector materialization, no all-pairs relation.
    *
    * Scale shape: the batch side (20 docs' postings) broadcasts into
    * the term join; the corpus side streams — candidate volume is
    * Σ_term (batch_tf × df), which the DF CUT (drop terms in > 4/5 of
    * docs) bounds: at web scale the near-universal terms are exactly
    * the ones whose inverted lists would otherwise dominate the join,
    * and dropping them barely moves cosine (their idf ≈ 0 makes their
    * weight products noise). Vector space and norms live in the SAME
    * cut space, so the cosine is exact within it.
    *
    * Parity: idf rounds once to a 6dp decimal; weights are exact
    * decimal(12,6) products of (tf × idf); dots and norms accumulate
    * as exact decimal sums (order-independent); one double
    * sqrt/divide at the end, rounded to 6dp — no cross-engine drift
    * surface anywhere. */
  val qTextTfidfSim = Q(
    "q_text_tfidf_sim",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("n"))
        .persist(MEMORY_AND_DISK)
      val stats = tf.groupBy(col("doc_id"))
        .agg(sum(col("n")).as("dl"))
        .agg(count(lit(1)).as("n_docs"))
      val kept = tf.groupBy(col("w"))
        .agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(stats))
        .filter(col("df") * 5 <= col("n_docs") * 4)
        .select(col("w"),
          round(log(col("n_docs") * lit(1.0) / col("df")), 6)
            .cast("decimal(25,6)").as("idf"))
      val wgt = tf.join(kept, "w")
        .select(col("doc_id"), col("w"),
          (col("n") * col("idf")).cast("decimal(12,6)").as("wt"))
        .persist(MEMORY_AND_DISK)
      val norms = wgt.groupBy(col("doc_id"))
        .agg(sum(col("wt") * col("wt")).as("nrm"))
      val batch = wgt.filter(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("w"), col("wt").as("qwt"))
      val dots = broadcast(batch).join(wgt, "w")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("qwt") * col("wt")).as("dot"))
      val scored = dots
        .join(norms.select(col("doc_id").as("qid"), col("nrm").as("qnrm")),
          "qid")
        .join(norms, "doc_id")
        .select(col("qid"), col("doc_id"),
          round(col("dot").cast("double") /
            (sqrt(col("qnrm").cast("double")) *
              sqrt(col("nrm").cast("double"))), 6).as("cos_sim"))
      val result = SimilarityQueries.topKPer(scored, Seq(col("qid")),
          Seq(col("cos_sim").desc, col("doc_id")), 5)
        .select(col("qid"), col("rank"), col("doc_id"), col("cos_sim"))
        .orderBy(col("qid"), col("rank"))
      QueryScopedCache.releaseAfter(result, Seq(tf, wgt))
    },
    Some("""
      WITH tf AS (
        SELECT doc_id, w, COUNT(*) AS n
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id, w),
      stats AS (
        SELECT COUNT(*) AS n_docs
        FROM (SELECT doc_id FROM tf GROUP BY doc_id)),
      kept AS (
        SELECT w, CAST(ROUND(LN(n_docs * CAST(1.0 AS DOUBLE) / df), 6)
                 AS DECIMAL(25,6)) AS idf
        FROM (SELECT w, COUNT(*) AS df FROM tf GROUP BY w)
        CROSS JOIN stats
        WHERE df * 5 <= n_docs * 4),
      wgt AS (
        SELECT doc_id, w, CAST(n * idf AS DECIMAL(12,6)) AS wt
        FROM tf JOIN kept USING (w)),
      norms AS (
        SELECT doc_id, SUM(wt * wt) AS nrm FROM wgt GROUP BY doc_id),
      dots AS (
        SELECT b.doc_id AS qid, c.doc_id, SUM(b.wt * c.wt) AS dot
        FROM wgt b JOIN wgt c USING (w)
        WHERE b.doc_id < 20 AND c.doc_id <> b.doc_id
        GROUP BY b.doc_id, c.doc_id),
      scored AS (
        SELECT d.qid, d.doc_id,
               ROUND(CAST(d.dot AS DOUBLE) /
                 (SQRT(CAST(nq.nrm AS DOUBLE)) *
                  SQRT(CAST(nc.nrm AS DOUBLE))), 6) AS cos_sim
        FROM dots d
        JOIN norms nq ON nq.doc_id = d.qid
        JOIN norms nc ON nc.doc_id = d.doc_id)
      SELECT qid, rank, doc_id, cos_sim FROM (
        SELECT qid, doc_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, doc_id) AS rank
        FROM scored) x
      WHERE rank <= 5 ORDER BY qid, rank"""))

  /** Collocation mining: the corpus's most over-represented adjacent
    * word pairs by association LIFT against the bigram table's own
    * marginals — lift(a,b) = n_ab·N / (n_a•·n_•b), the argument of
    * pointwise mutual information. Because log is monotone, ranking by
    * lift IS ranking by PMI, and lift stays in EXACT integer
    * micro-units (the [[SimilarityQueries.qSimKmeans]] discipline)
    * where PMI's log would need cross-engine float parity. A minimum
    * pair count (≥ 5) applies the standard collocation noise floor —
    * hapax pairs otherwise dominate any PMI-family ranking.
    *
    * Scale shape: bigram extraction is IN-ROW on the token array (the
    * [[qTextBigramLogprob]] trick — no positional self-join), and the
    * first aggregation shrinks the corpus to its bigram VOCABULARY;
    * the two marginal tables derive from that table (never re-reading
    * text) and ride broadcasts; the final ranking is TakeOrdered(30).
    * The micro-lift product n_ab·N·10⁶ is bounded by N²·10⁶ — BIGINT
    * holds it through ~10⁹-bigram vocabularies; past that the same
    * expression widens to DECIMAL(38,0) unchanged. */
  val qTextCollocations = Q(
    "q_text_collocations",
    (s, dir) => {
      val nBig = docs(s, dir)
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          """transform(sequence(2, size(ws)),
               i -> struct(element_at(ws, i - 1) as wp,
                           element_at(ws, i) as w))""")).as("b"))
        .groupBy(col("b.wp").as("wp"), col("b.w").as("w"))
        .agg(count(lit(1)).as("n_ab"))
      val margA = nBig.groupBy(col("wp")).agg(sum(col("n_ab")).as("n_a"))
      val margB = nBig.groupBy(col("w")).agg(sum(col("n_ab")).as("n_b"))
      val total = nBig.agg(sum(col("n_ab")).cast("long").as("n_total"))
      nBig.filter(col("n_ab") >= 5)
        .join(broadcast(margA), "wp")
        .join(broadcast(margB), "w")
        .crossJoin(broadcast(total))
        .select(col("wp"), col("w"), col("n_ab"),
          expr("CAST(n_ab * n_total * 1000000 DIV (n_a * n_b) AS BIGINT)")
            .as("micro_lift"))
        .orderBy(col("micro_lift").desc, col("wp"), col("w")).limit(30)
        .agg(sort_array(collect_list(struct((-col("micro_lift")).as("negl"),
          col("wp"), col("w"), col("n_ab")))).as("ts"))
        .select(posexplode(col("ts")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("col.wp").as("wp"), col("col.w").as("w"),
          col("col.n_ab").as("n_ab"),
          (-col("col.negl")).as("micro_lift"))
        .orderBy(col("rank"))
    },
    Some("""
      WITH b AS (
        SELECT ws[i - 1] AS wp, ws[i] AS w
        FROM (SELECT ws,
                     unnest([x for x in generate_series(2, len(ws))]) AS i
              FROM (SELECT string_split(text, ' ') AS ws FROM documents)
              WHERE len(ws) >= 2)),
      n_big AS (
        SELECT wp, w, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM b GROUP BY 1, 2),
      marg_a AS (
        SELECT wp, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM n_big GROUP BY 1),
      marg_b AS (
        SELECT w, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM n_big GROUP BY 1),
      total AS (
        SELECT CAST(SUM(n_ab) AS BIGINT) AS n_total FROM n_big),
      lifted AS (
        SELECT wp, w, n_ab,
               CAST(n_ab * n_total * 1000000 // (n_a * n_b) AS BIGINT)
                 AS micro_lift
        FROM n_big JOIN marg_a USING (wp) JOIN marg_b USING (w)
        CROSS JOIN total
        WHERE n_ab >= 5)
      SELECT rank, wp, w, n_ab, micro_lift FROM (
        SELECT wp, w, n_ab, micro_lift,
               ROW_NUMBER() OVER (
                 ORDER BY micro_lift DESC, wp, w) AS rank
        FROM lifted) x
      WHERE rank <= 30 ORDER BY rank"""))

  /** χ² token↔source association (supervised feature selection): for
    * each (token, source) cell of the token-count contingency table,
    * the chi-square statistic N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — the
    * classic pick-the-discriminative-vocabulary step before training
    * a source/quality classifier. Top-50 most-associated cells.
    *
    * Exactness: all four cell counts and every marginal are BIGINT;
    * the statistic itself is evaluated in DOUBLE with an identical
    * operation tree on both engines (products of exactly-representable
    * integers, one squaring written as diff*diff — never pow —, one
    * division, round 6), so results are bit-stable cross-engine.
    *
    * Scale shape: one exchange on (token, source) builds the cells;
    * the token marginal re-aggregates those cells (token-keyed
    * shuffle of the CELL table, never the corpus), the source
    * marginal is a tiny broadcast, the corpus total a one-row
    * broadcast. Nothing driver-side; the top-50 is a TakeOrdered. */
  val qTextChisquare = Q(
    "q_text_chisquare",
    (s, dir) => {
      val tok = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val cells = tok.groupBy(col("w"), col("source"))
        .agg(count(lit(1)).as("a"))
      val wt = cells.groupBy(col("w")).agg(sum(col("a")).as("token_tot"))
      val st = cells.groupBy(col("source")).agg(sum(col("a")).as("src_tot"))
      val n = cells.agg(sum(col("a")).as("n_tok"))
      val d = col("n_tok") - col("token_tot") - col("src_tot") + col("a")
      val diff = col("a").cast("double") * d.cast("double") -
        (col("token_tot") - col("a")).cast("double") *
          (col("src_tot") - col("a")).cast("double")
      val den = col("token_tot").cast("double") *
        (col("n_tok") - col("token_tot")).cast("double") *
        col("src_tot").cast("double") *
        (col("n_tok") - col("src_tot")).cast("double")
      cells.join(wt, "w").join(broadcast(st), "source")
        .crossJoin(broadcast(n))
        .filter(col("token_tot") >= 20 && col("token_tot") < col("n_tok"))
        .withColumn("chi2",
          round(col("n_tok").cast("double") * (diff * diff) / den, 6))
        .select(col("w"), col("source"), col("a").as("n_ws"),
          col("token_tot"), col("src_tot"), col("chi2"))
        .orderBy(col("chi2").desc, col("w"), col("source"))
        .limit(50)
    },
    Some("""
      WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents),
      cells AS (
        SELECT w, source, COUNT(*) AS a
        FROM tok WHERE length(w) > 0 GROUP BY w, source),
      wt AS (SELECT w, CAST(SUM(a) AS BIGINT) AS token_tot
             FROM cells GROUP BY w),
      st AS (SELECT source, CAST(SUM(a) AS BIGINT) AS src_tot
             FROM cells GROUP BY source),
      n AS (SELECT CAST(SUM(a) AS BIGINT) AS n_tok FROM cells)
      SELECT w, source, n_ws, token_tot, src_tot, chi2 FROM (
        SELECT c.w, c.source, c.a AS n_ws, wt.token_tot, st.src_tot,
               ROUND(CAST(n_tok AS DOUBLE) *
                 ((CAST(c.a AS DOUBLE) *
                     CAST(n_tok - token_tot - src_tot + c.a AS DOUBLE) -
                   CAST(token_tot - c.a AS DOUBLE) *
                     CAST(src_tot - c.a AS DOUBLE)) *
                  (CAST(c.a AS DOUBLE) *
                     CAST(n_tok - token_tot - src_tot + c.a AS DOUBLE) -
                   CAST(token_tot - c.a AS DOUBLE) *
                     CAST(src_tot - c.a AS DOUBLE))) /
                 (CAST(token_tot AS DOUBLE) *
                  CAST(n_tok - token_tot AS DOUBLE) *
                  CAST(src_tot AS DOUBLE) *
                  CAST(n_tok - src_tot AS DOUBLE)), 6) AS chi2
        FROM cells c
        JOIN wt ON wt.w = c.w
        JOIN st ON st.source = c.source
        CROSS JOIN n
        WHERE token_tot >= 20 AND token_tot < n_tok) x
      ORDER BY chi2 DESC, w, source LIMIT 50"""))

  /** Cross-source vocabulary overlap audit: exact Jaccard similarity
    * of the distinct-token sets for every source pair, top-20 — the
    * "are two corpus slices the same content under different labels"
    * check a mixture designer runs before weighting sources as if
    * they were independent.
    *
    * Scale shape: the corpus reduces once to the DISTINCT
    * (source, token) relation; the pair intersection is a token-keyed
    * self-equi-join of that small relation (fan-out bounded by
    * sources-containing-the-token², i.e. by |sources|², never by
    * corpus size), and set sizes broadcast back onto the pair counts.
    * With web-scale source counts (domains) this exact path swaps for
    * the banded-minhash estimate the dedup family already ships —
    * documented here as the scale lever, same as the datacard's
    * GK swap. */
  val qStatsSourceOverlap = Q(
    "q_stats_source_overlap",
    (s, dir) => {
      val vocab = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .distinct()
      val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      val inter = vocab.select(col("source").as("src_a"), col("w"))
        .join(vocab.select(col("source").as("src_b"), col("w")), "w")
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("nv").as("nv_a"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("nv").as("nv_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("nv_a"), col("nv_b"),
          col("n_inter"),
          round(col("n_inter").cast("double") /
            (col("nv_a") + col("nv_b") - col("n_inter")).cast("double"), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("src_a"), col("src_b"))
        .limit(20)
    },
    Some("""
      WITH vocab AS (
        SELECT DISTINCT source, w FROM (
          SELECT source, unnest(string_split(text, ' ')) AS w
          FROM documents) x WHERE length(w) > 0),
      sizes AS (SELECT source, COUNT(*) AS nv FROM vocab GROUP BY source),
      inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
        FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
        GROUP BY a.source, b.source)
      SELECT src_a, src_b, sa.nv AS nv_a, sb.nv AS nv_b, n_inter,
             ROUND(CAST(n_inter AS DOUBLE) /
                   CAST(sa.nv + sb.nv - n_inter AS DOUBLE), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.source = src_a
      JOIN sizes sb ON sb.source = src_b
      ORDER BY jaccard DESC, src_a, src_b LIMIT 20"""))

  /** N-gram diversity (distinct-n) per source: distinct/total ratios
    * for unigrams, bigrams, and trigrams — the standard
    * repetitiveness/diversity metric for corpus slices and generated
    * data (low distinct-2 flags template-y or self-repeating text
    * that per-document repetition filters can miss at corpus level).
    *
    * Scale shape: one narrow pass builds positional n-grams (two
    * LEADs sharing one doc-keyed window sort), then ONE aggregate
    * computes all three totals and all three distinct counts (Spark's
    * expand-based multi-distinct; distinct KEYS may be strings — only
    * string agg BUFFERS break HashAggregate, see q_stats_profile).
    * Nothing shuffles except the (source, gid, ngram) dedup rows. */
  val qTextDistinctN = Q(
    "q_text_distinct_n",
    (s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), col("source"),
          posexplode(split(col("text"), " ")))
        .filter(length(col("col")) > 0)
        .select(col("doc_id"), col("source"), col("pos"),
          col("col").as("w"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val grams = tok
        .withColumn("w2", lead(col("w"), 1).over(wDoc))
        .withColumn("w3", lead(col("w"), 2).over(wDoc))
        .select(col("source"), col("w"),
          when(col("w2").isNotNull,
            concat_ws(" ", col("w"), col("w2"))).as("bg"),
          when(col("w3").isNotNull,
            concat_ws(" ", col("w"), col("w2"), col("w3"))).as("tg"))
      grams.groupBy(col("source"))
        .agg(count(col("w")).as("n_uni"),
          countDistinct(col("w")).as("d_uni"),
          count(col("bg")).as("n_bi"),
          countDistinct(col("bg")).as("d_bi"),
          count(col("tg")).as("n_tri"),
          countDistinct(col("tg")).as("d_tri"))
        .select(col("source"), col("n_uni"), col("d_uni"),
          round(col("d_uni").cast("double") / col("n_uni").cast("double"), 6)
            .as("r_uni"),
          col("n_bi"), col("d_bi"),
          round(col("d_bi").cast("double") / col("n_bi").cast("double"), 6)
            .as("r_bi"),
          col("n_tri"), col("d_tri"),
          round(col("d_tri").cast("double") / col("n_tri").cast("double"), 6)
            .as("r_tri"))
        .orderBy(col("source"))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, source, CAST(pos AS BIGINT) AS pos, w
        FROM (
          SELECT doc_id, source,
                 unnest(generate_series(1, len(ws))) AS pos,
                 unnest(ws) AS w
          FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
                FROM documents) d) z
        WHERE length(w) > 0),
      grams AS (
        SELECT source, w,
               CASE WHEN LEAD(w, 1) OVER win IS NOT NULL
                    THEN w || ' ' || LEAD(w, 1) OVER win END AS bg,
               CASE WHEN LEAD(w, 2) OVER win IS NOT NULL
                    THEN w || ' ' || LEAD(w, 1) OVER win || ' '
                         || LEAD(w, 2) OVER win END AS tg
        FROM tok
        WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
      SELECT source,
             COUNT(w) AS n_uni, COUNT(DISTINCT w) AS d_uni,
             ROUND(CAST(COUNT(DISTINCT w) AS DOUBLE)
                   / CAST(COUNT(w) AS DOUBLE), 6) AS r_uni,
             COUNT(bg) AS n_bi, COUNT(DISTINCT bg) AS d_bi,
             ROUND(CAST(COUNT(DISTINCT bg) AS DOUBLE)
                   / CAST(COUNT(bg) AS DOUBLE), 6) AS r_bi,
             COUNT(tg) AS n_tri, COUNT(DISTINCT tg) AS d_tri,
             ROUND(CAST(COUNT(DISTINCT tg) AS DOUBLE)
                   / CAST(COUNT(tg) AS DOUBLE), 6) AS r_tri
      FROM grams GROUP BY source ORDER BY source"""))

  /** Per-document keyword extraction — the tf·idf ranking reduced to
    * pure integer ordering: each document's top-3 terms by
    * (tf DESC, df ASC, term ASC). Dividing tf by df monotonically
    * matches ranking by tf with df as the tiebreak only when tf ties
    * — deliberately NOT a float tf·idf score: the integer triple is a
    * total order both engines replay bit-identically, and it
    * preserves the tf·idf intent (frequent-in-doc, rare-in-corpus)
    * without a cross-engine division. The stage that labels each
    * training document with its topical anchor terms for mixture /
    * routing decisions.
    *
    * Scale shape: tf is one (doc, term) aggregate; df is one term
    * aggregate broadcast back onto it (|vocab| rows); the top-3 is a
    * doc-partitioned [[SimilarityQueries.topKPer]] — never global. */
  val qTextKeywords = Q(
    "q_text_keywords",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val tf = toks.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("w"))
        .agg(count(lit(1)).as("df"))
      SimilarityQueries.topKPer(tf.join(df, "w"), Seq(col("doc_id")),
          Seq(col("tf").desc, col("df").asc, col("w").asc), 3)
        .select(col("doc_id"), col("rank"), col("w").as("keyword"),
          col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      tf AS (
        SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (
        SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      ranked AS (
        SELECT tf.doc_id, tf.w, tf.tf, df.df,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                 ORDER BY tf.tf DESC, df.df ASC, tf.w ASC) AS rank
        FROM tf JOIN df USING (w))
      SELECT doc_id, CAST(rank AS BIGINT) AS rank, w AS keyword, tf, df
      FROM ranked WHERE rank <= 3
      ORDER BY doc_id, rank"""))

  /** Per-source distribution diagnostics — Shannon entropy of each
    * source's own unigram distribution, cross-entropy against the
    * CORPUS unigram LM, and their difference (the KL divergence
    * D(source ‖ corpus)) — the domain-shift report a mixture designer
    * reads before reweighting sources: a source whose KL is high is
    * lexically far from the corpus average. Entropy IS the mean NLL
    * of a source under its own LM, so both numbers follow
    * [[qTextLogprob]]'s exact parity discipline verbatim: each
    * distinct (source, token) NLL rounds once to a 6-digit DECIMAL,
    * per-source sums weight those decimals by exact integer counts
    * (order-free), and the means emit as integer micro-units under
    * floor division. KL is the difference of the two EMITTED
    * integers — deterministic by construction, and ≥ 0 up to the two
    * floors. Scale shape: one token explode feeds both aggregations;
    * the shuffles carry (source, w) partial counts and the |vocab|-row
    * corpus LM broadcasts. */
  val qTextEntropy = Q(
    "q_text_entropy",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val sw = toks.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("c"))
      val stot = sw.groupBy(col("source")).agg(sum(col("c")).as("ns"))
      val vocab = sw.groupBy(col("w")).agg(sum(col("c")).as("n_w"))
      val total = vocab.agg(sum(col("n_w")).cast("long").as("n_total"))
      val corpusLm = vocab.crossJoin(broadcast(total))
        .select(col("w"),
          round(-log(col("n_w") * lit(1.0) / col("n_total")), 6)
            .cast("decimal(25,6)").as("nll_c"))
      sw.join(stot, Seq("source"))
        .withColumn("nll_s",
          round(-log(col("c") * lit(1.0) / col("ns")), 6)
            .cast("decimal(25,6)"))
        .join(broadcast(corpusLm), Seq("w"))
        .groupBy(col("source"))
        .agg(max(col("ns")).as("n_tokens"),
          (sum(col("nll_s") * col("c").cast("decimal(12,0)")) *
            lit(1000000)).cast("long").as("self_micro"),
          (sum(col("nll_c") * col("c").cast("decimal(12,0)")) *
            lit(1000000)).cast("long").as("cross_micro"))
        .select(col("source"), col("n_tokens"),
          expr("CAST(self_micro DIV n_tokens AS BIGINT)")
            .as("entropy_micro"),
          expr("CAST(cross_micro DIV n_tokens AS BIGINT)")
            .as("cross_entropy_micro"),
          (expr("CAST(cross_micro DIV n_tokens AS BIGINT)") -
            expr("CAST(self_micro DIV n_tokens AS BIGINT)"))
            .as("kl_micro"))
        .orderBy(col("source"))
    },
    Some("""
      WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents),
      sw AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns
               FROM sw GROUP BY source),
      vocab AS (SELECT w, CAST(SUM(c) AS BIGINT) AS n_w
                FROM sw GROUP BY w),
      total AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM vocab),
      lm AS (SELECT w, CAST(ROUND(-LN(n_w * 1.0 / n_total), 6)
                            AS DECIMAL(25,6)) AS nll_c
             FROM vocab, total),
      terms AS (
        SELECT sw.source, sw.c, stot.ns,
               CAST(ROUND(-LN(sw.c * 1.0 / stot.ns), 6)
                    AS DECIMAL(25,6)) AS nll_s,
               lm.nll_c
        FROM sw JOIN stot USING (source) JOIN lm USING (w)),
      agg AS (
        SELECT source, MAX(ns) AS n_tokens,
               CAST(SUM(nll_s * CAST(c AS DECIMAL(12,0))) * 1000000
                    AS BIGINT) AS self_micro,
               CAST(SUM(nll_c * CAST(c AS DECIMAL(12,0))) * 1000000
                    AS BIGINT) AS cross_micro
        FROM terms GROUP BY source)
      SELECT source, n_tokens,
             self_micro // n_tokens AS entropy_micro,
             cross_micro // n_tokens AS cross_entropy_micro,
             (cross_micro // n_tokens) - (self_micro // n_tokens)
               AS kl_micro
      FROM agg ORDER BY source"""))

  /** Vocabulary-coverage / OOV report — per source, the share of the
    * token stream NOT covered by a fixed-size frequency-cut vocabulary
    * (here the top-10 corpus tokens by count with a full text
    * tie-break — the fixture's 31-token vocabulary makes a larger cut
    * degenerate; production would pass 32k). The tokenizer-budget
    * question every vocab build answers: what does shrinking the
    * vocabulary cost each source? Scale shape: the vocab cut is a
    * bounded TakeOrdered over the token-frequency table, broadcast
    * back as a LEFT join flag; the only corpus-scale exchange carries
    * (source, w) partial counts. Exact integers to the end, one
    * rounded double division per source. */
  val qTextOov = Q(
    "q_text_oov",
    (s, dir) => {
      val sw = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("c"))
      val vocab = sw.groupBy(col("w")).agg(sum(col("c")).as("n_w"))
        .orderBy(col("n_w").desc, col("w")).limit(10)
        .select(col("w"), lit(1L).as("in_vocab"))
      sw.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          sum(when(col("in_vocab").isNull, col("c")).otherwise(0L))
            .as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") /
            col("n_tokens").cast("double"), 6).as("oov_rate"))
        .orderBy(col("source"))
    },
    Some("""
      WITH sw AS (
        SELECT source, w, COUNT(*) AS c
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY 1, 2),
      vocab AS (
        SELECT w FROM (
          SELECT w, CAST(SUM(c) AS BIGINT) AS n_w FROM sw GROUP BY w
          ORDER BY n_w DESC, w LIMIT 10)),
      agg AS (
        SELECT sw.source, CAST(SUM(sw.c) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.w IS NULL THEN sw.c ELSE 0 END)
                    AS BIGINT) AS n_oov
        FROM sw LEFT JOIN vocab v USING (w)
        GROUP BY sw.source)
      SELECT source, n_tokens, n_oov,
             ROUND(CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
               AS oov_rate
      FROM agg ORDER BY source"""))

  /** Classifier-quality report for the language identifier — the
    * confusion matrix of [[qTextLangid]]'s predictions against the
    * corpus's labeled `lang` column, with each cell's share of its
    * actual row (the diagonal = per-language RECALL) and of its
    * predicted column (diagonal = PRECISION). The eval loop every
    * model-based filter needs before its output is trusted — and the
    * query COMPOSES the registered classifier rather than re-stating
    * it: the Spark side calls qTextLangid.run, the oracle embeds
    * qTextLangid's SQL as a CTE, so the eval can never drift from the
    * classifier it evaluates. Scale shape: predictions are one narrow
    * pass; the matrix and its margins are ≤ |langs|² rows. */
  val qTextLangidEval = Q(
    "q_text_langid_eval",
    (s, dir) => {
      val pred = qTextLangid.run(s, dir)
        .select(col("doc_id"), col("predicted"))
      val j = docs(s, dir).select(col("doc_id"), col("lang").as("actual"))
        .join(pred, Seq("doc_id"))
      val cm = j.groupBy(col("actual"), col("predicted"))
        .agg(count(lit(1)).as("n"))
      val ra = cm.groupBy(col("actual")).agg(sum(col("n")).as("n_actual"))
      val rp = cm.groupBy(col("predicted"))
        .agg(sum(col("n")).as("n_predicted"))
      cm.join(ra, Seq("actual")).join(rp, Seq("predicted"))
        .select(col("actual"), col("predicted"), col("n"),
          round(col("n").cast("double") / col("n_actual").cast("double"),
            6).as("share_of_actual"),
          round(col("n").cast("double") /
            col("n_predicted").cast("double"), 6).as("share_of_predicted"))
        .orderBy(col("actual"), col("predicted"))
    },
    Some(s"""
      WITH pred AS (${qTextLangid.oracle.get}),
      j AS (
        SELECT d.lang AS actual, p.predicted
        FROM documents d JOIN pred p USING (doc_id)),
      cm AS (
        SELECT actual, predicted, COUNT(*) AS n FROM j GROUP BY 1, 2),
      ra AS (SELECT actual, CAST(SUM(n) AS BIGINT) AS n_actual
             FROM cm GROUP BY 1),
      rp AS (SELECT predicted, CAST(SUM(n) AS BIGINT) AS n_predicted
             FROM cm GROUP BY 1)
      SELECT cm.actual, cm.predicted, cm.n,
             ROUND(CAST(cm.n AS DOUBLE) / CAST(ra.n_actual AS DOUBLE), 6)
               AS share_of_actual,
             ROUND(CAST(cm.n AS DOUBLE) / CAST(rp.n_predicted AS DOUBLE),
               6) AS share_of_predicted
      FROM cm JOIN ra USING (actual) JOIN rp USING (predicted)
      ORDER BY actual, predicted"""))

  /** Lexical-complexity (readability) screen, all-BIGINT: per doc,
    * syllable mass by the vowel-group heuristic (one syllable per
    * maximal `[aeiou]+` run — the standard dictionary-free
    * approximation; spaces break runs, so the doc-level regexp count
    * IS the word-sum) plus the complex-word count (words with ≥ 3
    * vowel groups — the Gunning-fog "hard word" class). Both ratios
    * ship in exact integer micro/milli units (`·1e6 DIV n_words`) —
    * no floats anywhere, so the gate pins the full statistic. The
    * corpus has no sentence punctuation, so the grade-formula
    * sentence term is deliberately out of scope; these two ratios
    * are the formula's other inputs and the quality-filter signal.
    *
    * Scale shape: one narrow projection per doc for the syllable
    * count; the complex-word count explodes words once ([[qTextTokens]]
    * shape) and re-aggregates by doc id — both map-side-combining,
    * one exchange. */
  val qTextReadability = Q(
    "q_text_readability",
    (s, dir) => {
      val d = docs(s, dir)
      val base = d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        regexp_count(col("text"), lit("[aeiou]+")).cast("long")
          .as("n_syll"))
      val cplx = d
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"))
        .agg(sum(when(regexp_count(col("w"), lit("[aeiou]+")) >= 3, 1L)
          .otherwise(0L)).as("n_complex"))
      base.join(cplx, Seq("doc_id"))
        .select(col("doc_id"), col("n_words"), col("n_syll"),
          col("n_complex"),
          expr("n_syll * 1000000 DIV n_words").as("syll_per_word_micro"),
          expr("n_complex * 1000 DIV n_words").as("complex_milli"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH base AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
                 AS n_syll
        FROM documents),
      cplx AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN len(regexp_extract_all(w, '[aeiou]+'))
                             >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_complex
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id)
      SELECT b.doc_id, b.n_words, b.n_syll, c.n_complex,
             b.n_syll * 1000000 // b.n_words AS syll_per_word_micro,
             c.n_complex * 1000 // b.n_words AS complex_milli
      FROM base b JOIN cplx c USING (doc_id)
      ORDER BY doc_id"""))

  /** Per-source novel-content contribution — for each document, the
    * fraction of its distinct 8-grams whose FIRST corpus occurrence
    * (min doc_id over the whole corpus) is that document, rolled up
    * per source: the data-valuation screen that answers "which feed
    * still contributes new content and which is re-crawling what the
    * corpus already holds" before paying to ingest more of it.
    * [[qDedupPassage]] profiles which docs SHARE content; this
    * attributes every shared 8-gram to its earliest holder and scores
    * the marginal novelty of everything else.
    *
    * Exactness: first-holder is min(doc_id) — a total tie-break, so
    * attribution is deterministic; counts are BIGINT; the two
    * fractions are single rounded divisions over gated integers.
    *
    * Scale shape: the doc-distinct fingerprint table shuffles once on
    * the 8-gram hash (count + min in the SAME aggregate), joins back
    * doc-keyed, and lands on a bounded source rollup; only md5 hashes
    * cross the wire, never text ([[qDedupPassage]] discipline). The
    * instance table feeds the hash aggregate and the join back, so it
    * persists for exactly one action via [[QueryScopedCache]]. */
  val qTextNovelty = Q(
    "q_text_novelty",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ps = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.shingles(col("ws"), 8))
            .as("sh"))
        // 60-bit md5 fingerprint as the shingle key (r12): `h` exists
        // only to group/join on — a long halves the cache and shuffle
        // bytes vs the 32-char hex string and compares as an integer;
        // collisions merge groups at 2^-60 per pair in the engine only
        // (oracle keeps strings) — the q_dedup_ngram_jaccard trade.
        .select(col("doc_id"),
          graft.functions.TextFunctions.md5Bits(col("sh"))
            .getField("h").as("h"))
        .persist(MEMORY_AND_DISK)
      val first = ps.groupBy(col("h"))
        .agg(min(col("doc_id")).as("first_doc"))
      val perDoc = ps.join(first, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
      val result = perDoc
        .join(docs(s, dir).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_sh")).as("n_shingles"),
          sum(col("n_novel")).as("n_novel"))
        .select(col("source"), col("n_docs"), col("n_shingles"),
          col("n_novel"),
          round(col("n_novel").cast("double") /
            col("n_shingles").cast("double"), 6).as("novelty_frac"))
        .orderBy(col("source"))
      QueryScopedCache.releaseAfter(result, Seq(ps))
    },
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents),
      ps AS (
        SELECT DISTINCT doc_id, md5(sh) AS h FROM (
          SELECT doc_id,
                 unnest([array_to_string(ws[i:i+7], ' ')
                         for i in generate_series(1, len(ws) - 7)]) AS sh
          FROM w)),
      first AS (SELECT h, MIN(doc_id) AS first_doc FROM ps GROUP BY h),
      per_doc AS (
        SELECT p.doc_id, COUNT(*) AS n_sh,
               CAST(SUM(CASE WHEN f.first_doc = p.doc_id
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM ps p JOIN first f USING (h) GROUP BY p.doc_id)
      SELECT d.source, COUNT(*) AS n_docs,
             CAST(SUM(pd.n_sh) AS BIGINT) AS n_shingles,
             CAST(SUM(pd.n_novel) AS BIGINT) AS n_novel,
             ROUND(CAST(SUM(pd.n_novel) AS DOUBLE) /
                   CAST(SUM(pd.n_sh) AS DOUBLE), 6) AS novelty_frac
      FROM per_doc pd JOIN documents d USING (doc_id)
      GROUP BY d.source ORDER BY d.source"""))

  /** Duplicated-context mass per source — the MEMORIZATION-RISK
    * readout next to [[qTextNovelty]]'s attribution view: of each
    * source's distinct (doc, 8-gram) instances, what fraction
    * belongs to an 8-gram appearing in MORE THAN ONE document?
    * Repeated contexts are what a model memorizes verbatim; a source
    * whose dup mass spikes is feeding the training mix boilerplate.
    * Novelty answers "who held it first", this answers "how much of
    * the source is held by anyone else at all" — the number a
    * dedup-policy review reads before tightening thresholds.
    *
    * Scale shape: the [[qTextNovelty]] machinery verbatim — shingle
    * instances as 32-byte md5 keys (text never crosses the wire),
    * one map-side-combined per-shingle document count, a key-only
    * join back, a bounded per-source rollup; the instance table
    * persists for its two consumers via [[QueryScopedCache]]. */
  val qTextDupMass = Q(
    "q_text_dup_mass",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ps = docs(s, dir)
        .select(col("doc_id"), col("source"),
          split(col("text"), " ").as("ws"))
        .select(col("doc_id"), col("source"),
          explode(graft.functions.TextFunctions.shingles(col("ws"), 8))
            .as("sh"))
        // 60-bit fingerprint key, q_text_novelty's rationale (r12)
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.md5Bits(col("sh"))
            .getField("h").as("h"))
        .distinct()
        .persist(MEMORY_AND_DISK)
      val nd = ps.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      val result = ps.join(nd, Seq("h"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_pairs"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("dup_pairs"))
        .select(col("source"), col("n_docs"), col("n_pairs"),
          col("dup_pairs"),
          round(col("dup_pairs").cast("double") /
            col("n_pairs").cast("double"), 6).as("dup_mass_frac"))
        .orderBy(col("source"))
      QueryScopedCache.releaseAfter(result, Seq(ps))
    },
    Some("""
      WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                 FROM documents),
      ps AS (
        SELECT DISTINCT doc_id, source, md5(sh) AS h FROM (
          SELECT doc_id, source,
                 unnest([array_to_string(ws[i:i+7], ' ')
                         for i in generate_series(1, len(ws) - 7)]) AS sh
          FROM w)),
      nd AS (SELECT h, COUNT(*) AS nd FROM ps GROUP BY h)
      SELECT p.source, COUNT(DISTINCT p.doc_id) AS n_docs,
             COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_pairs,
             ROUND(CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS dup_mass_frac
      FROM ps p JOIN nd d USING (h)
      GROUP BY p.source ORDER BY p.source"""))

  /** Population Stability Index of each source's document-length
    * distribution against the corpus — THE production drift score
    * ("has this feed's shape moved?"; PSI < 0.1 stable, > 0.25
    * investigate) that risk and data-quality teams run on every
    * feature between baseline and current. Ten equal-width length
    * bins from the broadcast corpus extrema (the
    * [[PrepQueries.qPrepCurriculum]] banding — deliberately not
    * ntile), +1 Laplace smoothing on every (source, bin) cell so
    * empty bins stay finite, PSI = Σ_bins (q−p)·ln(q/p).
    *
    * Cross-engine exactness: bin assignment is integer arithmetic,
    * all counts gate exactly, and each bin's term is one IEEE
    * expression over (c_sb, n_s, c_b, N) rounded to 9 decimals then
    * DECIMAL-summed per source ([[qTextLogprob]] discipline — ln of
    * identical rational doubles agrees bit-for-bit, the engine-wide
    * precedent). Scale shape: one doc pass to bin, two bounded
    * aggregates, a 10-row bin explode on the bounded source table,
    * no window anywhere. */
  val qStatsPsi = Q(
    "q_stats_psi",
    (s, dir) => {
      val ext = docs(s, dir).agg(min(col("n_chars")).as("mn"),
        max(col("n_chars")).as("mx"))
      val binned = docs(s, dir).crossJoin(broadcast(ext))
        .select(col("source"),
          expr("least(9L, (n_chars - mn) * 10 div (mx - mn + 1))")
            .as("bin"))
      val cb = binned.groupBy(col("bin")).agg(count(lit(1)).as("c_b"))
      val sb = binned.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("c_sb"))
      val ns = binned.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val nn = binned.agg(count(lit(1)).as("n"))
      val grid = ns
        .crossJoin(broadcast(s.range(0, 10).toDF("bin")))
        .join(sb, Seq("source", "bin"), "left")
        .join(broadcast(cb), Seq("bin"))
        .crossJoin(broadcast(nn))
        .select(col("source"), col("n_s"),
          coalesce(col("c_sb"), lit(0L)).as("c_sb"),
          col("c_b"), col("n"))
      grid
        .select(col("source"), col("n_s"), expr("""
          cast(round(
            (cast(c_sb + 1 as double) / cast(n_s + 10 as double) -
             cast(c_b + 1 as double) / cast(n + 10 as double)) *
            ln((cast(c_sb + 1 as double) / cast(n_s + 10 as double)) /
               (cast(c_b + 1 as double) / cast(n + 10 as double))), 9)
          as decimal(25,9))""").as("term"))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_docs"),
          sum(col("term")).cast("double").as("psi"))
        .orderBy(col("source"))
    },
    Some("""
      WITH ext AS (
        SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents),
      binned AS (
        SELECT d.source,
               CAST(LEAST(9, (d.n_chars - e.mn) * 10 //
                 (e.mx - e.mn + 1)) AS BIGINT) AS bin
        FROM documents d CROSS JOIN ext e),
      cb AS (SELECT bin, COUNT(*) AS c_b FROM binned GROUP BY bin),
      sb AS (SELECT source, bin, COUNT(*) AS c_sb
             FROM binned GROUP BY 1, 2),
      ns AS (SELECT source, COUNT(*) AS n_s FROM binned GROUP BY 1),
      nn AS (SELECT COUNT(*) AS n FROM binned),
      grid AS (
        SELECT s.source, s.n_s, COALESCE(sb.c_sb, 0) AS c_sb,
               cb.c_b, nn.n
        FROM ns s
        CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) t
        LEFT JOIN sb ON sb.source = s.source AND sb.bin = t.bin
        JOIN cb ON cb.bin = t.bin
        CROSS JOIN nn),
      terms AS (
        SELECT source, n_s,
               CAST(ROUND(
                 (CAST(c_sb + 1 AS DOUBLE) / CAST(n_s + 10 AS DOUBLE) -
                  CAST(c_b + 1 AS DOUBLE) / CAST(n + 10 AS DOUBLE)) *
                 ln((CAST(c_sb + 1 AS DOUBLE) / CAST(n_s + 10 AS DOUBLE)) /
                    (CAST(c_b + 1 AS DOUBLE) / CAST(n + 10 AS DOUBLE))), 9)
               AS DECIMAL(25,9)) AS term
        FROM grid)
      SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_docs,
             CAST(SUM(term) AS DOUBLE) AS psi
      FROM terms GROUP BY source ORDER BY source"""))

  /** Code-vs-prose screen — the pretraining router that decides
    * whether a document goes to the code pipeline or the text
    * pipeline (and catches config/log spam pretending to be prose):
    * per doc, integer counts of code-signal characters (braces,
    * semicolons, equals, underscores) and an integer code score in
    * basis points of character mass, thresholded; rolled up per
    * source with the routed fractions. Everything is exact character
    * counting (length-difference trick — no regex, no tokenizer) but
    * the two rounded fractions, so the gate is a full hash-match.
    *
    * Scale shape: one narrow codegen pass over the text column (the
    * counts are `length(text) − length(replace(text, c, ''))`), one
    * bounded source rollup. Text never shuffles — only the per-doc
    * count row. */
  val qTextCodeScreen = Q(
    "q_text_code_screen",
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        expr("length(text)").as("len"),
        expr("""length(text) - length(replace(text, '{', ''))
             + length(text) - length(replace(text, '}', ''))
             + length(text) - length(replace(text, ';', ''))
             + length(text) - length(replace(text, '=', ''))
             + length(text) - length(replace(text, '_', ''))""")
          .as("code_chars"))
      d.select(col("source"),
          expr("code_chars * 10000 div greatest(len, 1)").as("bp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("bp") >= 100, 1L).otherwise(0L)).as("n_code"),
          sum(col("bp")).as("sum_bp"))
        .select(col("source"), col("n_docs"), col("n_code"),
          round(col("n_code").cast("double") /
            col("n_docs").cast("double"), 6).as("code_frac"),
          round(col("sum_bp").cast("double") /
            col("n_docs").cast("double"), 6).as("mean_bp"))
        .orderBy(col("source"))
    },
    Some("""
      WITH d AS (
        SELECT source,
               (length(text) - length(replace(text, '{', ''))
              + length(text) - length(replace(text, '}', ''))
              + length(text) - length(replace(text, ';', ''))
              + length(text) - length(replace(text, '=', ''))
              + length(text) - length(replace(text, '_', '')))
               * 10000 // GREATEST(length(text), 1) AS bp
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN bp >= 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_code,
             ROUND(CAST(SUM(CASE WHEN bp >= 100 THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS code_frac,
             ROUND(CAST(SUM(bp) AS DOUBLE) /
                   CAST(COUNT(*) AS DOUBLE), 6) AS mean_bp
      FROM d GROUP BY source ORDER BY source"""))

  /** Zipf rank-frequency fit — OLS of ln(count) on ln(rank) over the
    * top-100 vocabulary: natural corpora follow count ∝ rank^s with
    * s ≈ −1, and a slope far from −1 or a poor R² is the canonical
    * screen for TEMPLATED or machine-generated text whose token
    * distribution is too flat (|s| small) or too spiky (|s| large) —
    * the distribution-level companion to the per-doc
    * [[qTextRepetition]] screen. The vocabulary comes from the same
    * token aggregate as [[qTextVocab]]; ranks are computed WITHOUT a
    * global window: the TakeOrdered top-100 is bounded by
    * construction, so rank = 1 + |{rows strictly earlier in
    * (count desc, token) order}| via a 100×100 theta join — exactly
    * the bounded-prefix pattern [[RelationalQueries.qStatsKendall]]
    * uses, and provably equal to ROW_NUMBER (total tie-break), which
    * is what the oracle uses. ln terms round to 9 and DECIMAL-sum;
    * slope, intercept, and R² are one rounded expression each.
    *
    * Scale shape: one map-side-combined token aggregate (the only
    * unbounded shuffle, carrying (token, count) only), a bounded
    * TakeOrdered(100), then all ranking/fit work rides 100-row
    * broadcast joins and one-row scalar cross joins. */
  val qTextZipf = Q(
    "q_text_zipf",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val vocab = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n_occ"))
        .orderBy(col("n_occ").desc, col("w")).limit(100)
        .persist(MEMORY_AND_DISK)
      val other = vocab.select(col("w").as("w2"), col("n_occ").as("c2"))
      val ranked = vocab.join(broadcast(other),
          col("c2") > col("n_occ") ||
            (col("c2") === col("n_occ") && col("w2") < col("w")), "left")
        .groupBy(col("w"), col("n_occ"))
        .agg((count(col("w2")) + 1L).as("rank"))
        .select(col("rank"), col("w"), col("n_occ"),
          expr("cast(round(ln(cast(rank as double)), 9) as decimal(25,9))")
            .as("x"),
          expr("cast(round(ln(cast(n_occ as double)), 9) as decimal(25,9))")
            .as("y"))
        .persist(MEMORY_AND_DISK)
      val sums = ranked.agg(count(lit(1)).as("k"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("""cast(round(cast(x as double) * cast(x as double), 9)
                  as decimal(25,9))""")).as("sxx"),
        sum(expr("""cast(round(cast(y as double) * cast(y as double), 9)
                  as decimal(25,9))""")).as("syy"),
        sum(expr("""cast(round(cast(x as double) * cast(y as double), 9)
                  as decimal(25,9))""")).as("sxy"))
      val fit = sums.select(
        round(expr("""(k * cast(sxy as double) -
            cast(sx as double) * cast(sy as double)) /
            (k * cast(sxx as double) -
             cast(sx as double) * cast(sx as double))"""), 6)
          .as("zipf_slope"),
        round(expr("""(cast(sy as double) * cast(sxx as double) -
            cast(sx as double) * cast(sxy as double)) /
            (k * cast(sxx as double) -
             cast(sx as double) * cast(sx as double))"""), 6)
          .as("zipf_intercept"),
        round(expr("""(k * cast(sxy as double) -
            cast(sx as double) * cast(sy as double)) *
            (k * cast(sxy as double) -
             cast(sx as double) * cast(sy as double)) /
            ((k * cast(sxx as double) -
              cast(sx as double) * cast(sx as double)) *
             (k * cast(syy as double) -
              cast(sy as double) * cast(sy as double)))"""), 6)
          .as("zipf_r2"))
      val result = ranked.filter(col("rank") <= 20)
        .crossJoin(broadcast(fit))
        .select(col("rank"), col("w"), col("n_occ"),
          col("zipf_slope"), col("zipf_intercept"), col("zipf_r2"))
        .orderBy(col("rank"))
      QueryScopedCache.releaseAfter(result, Seq(vocab, ranked))
    },
    Some("""
      WITH vocab AS (
        SELECT w, COUNT(*) AS n_occ
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY w ORDER BY n_occ DESC, w LIMIT 100),
      ranked AS (
        SELECT ROW_NUMBER() OVER (ORDER BY n_occ DESC, w) AS rank,
               w, n_occ,
               CAST(ROUND(ln(CAST(ROW_NUMBER() OVER
                 (ORDER BY n_occ DESC, w) AS DOUBLE)), 9)
                 AS DECIMAL(25,9)) AS x,
               CAST(ROUND(ln(CAST(n_occ AS DOUBLE)), 9)
                 AS DECIMAL(25,9)) AS y
        FROM vocab),
      sums AS (
        SELECT COUNT(*) AS k,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
                 AS DECIMAL(25,9))) AS sxx,
               SUM(CAST(ROUND(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 9)
                 AS DECIMAL(25,9))) AS syy,
               SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
                 AS DECIMAL(25,9))) AS sxy
        FROM ranked),
      fit AS (
        SELECT ROUND((k * CAST(sxy AS DOUBLE) -
                 CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                 (k * CAST(sxx AS DOUBLE) -
                  CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 AS zipf_slope,
               ROUND((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE) -
                 CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE)) /
                 (k * CAST(sxx AS DOUBLE) -
                  CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 AS zipf_intercept,
               ROUND((k * CAST(sxy AS DOUBLE) -
                 CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
                 (k * CAST(sxy AS DOUBLE) -
                  CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                 ((k * CAST(sxx AS DOUBLE) -
                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                  (k * CAST(syy AS DOUBLE) -
                   CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                 AS zipf_r2
        FROM sums)
      SELECT r.rank, r.w, r.n_occ,
             f.zipf_slope, f.zipf_intercept, f.zipf_r2
      FROM ranked r CROSS JOIN fit f
      WHERE r.rank <= 20
      ORDER BY r.rank"""))

  /** Winnowing fingerprint selection (the MOSS document-fingerprint
    * algorithm): slide a window of w = 4 consecutive word-3-gram
    * hashes over each document and keep each window's MINIMUM — the
    * selected ~2/(w+1) of positions carry the guarantee that any two
    * documents sharing a run of ≥ w+k−1 = 7 words share at least one
    * selected fingerprint, which is what makes winnowed sets a
    * sound plagiarism/near-dup candidate index at a fraction of
    * [[qTextFingerprint]]'s full-shingle cost. Ties break by
    * POSITION (leftmost) because the minimum is taken over the
    * composite key hash·2²⁰ + position — exact-integer, so both
    * engines select the identical set; an in-plan assert_true bounds
    * position < 2²⁰ (the composite stays inside BIGINT; beyond, fail
    * loudly — the [[RelationalQueries.qStatsGini]] discipline). The
    * per-doc output is (k-gram count, selected count, density, and
    * the bit-XOR of the selected composite keys — a value that is
    * wrong unless BOTH engines picked exactly the same positions).
    *
    * Scale shape: ONE doc_id exchange carries the window, the
    * distinct (doc, key) dedup, and both per-doc rollups (all keyed
    * on the doc_id prefix, so nothing re-shuffles); the final join of
    * the two doc-keyed aggregates reuses the same partitioning. The
    * md5 k-gram hash is in-row codegen over the explode — no UDF. */
  val qTextWinnow = Q(
    "q_text_winnow",
    (s, dir) => {
      val guard = coalesce(expr(
        "assert_true(pos < 1048576, " +
          "'q_text_winnow: k-gram position exceeds composite bound " +
          "(need pos < 2^20)')").cast("long"), lit(0L))
      // positional k-grams — NOT [[graft.functions.TextFunctions
      // .shingles]], which dedups (winnowing needs every position)
      val grams = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, size(ws) - 3), i -> " +
            "concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
          .as(Seq("pos", "sh")))
        .select(col("doc_id"), col("pos"),
          (conv(substring(md5(col("sh")), 1, 10), 16, 10).cast("long") *
            lit(1048576L) + col("pos") + guard).as("key"))
      val wWin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(-3, Window.currentRow)
      val sel = grams
        .withColumn("mk", min(col("key")).over(wWin))
        .filter(col("pos") >= 3)
        .select(col("doc_id"), col("mk")).distinct()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_selected"),
          expr("bit_xor(mk)").as("sel_xor"))
      grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_kgrams"))
        .join(sel, Seq("doc_id"))
        .select(col("doc_id"), col("n_kgrams"), col("n_selected"),
          round(col("n_selected").cast("double") /
            col("n_kgrams").cast("double"), 6).as("density"),
          col("sel_xor"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH grams AS (
        SELECT doc_id, u.i - 1 AS pos,
               CAST(('0x' || SUBSTR(md5(u.sh), 1, 10)) AS BIGINT)
                 * 1048576 + (u.i - 1) AS key
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents),
             LATERAL unnest(
               [{'i': i,
                 'sh': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]}
                for i in generate_series(1, len(ws)-2)]) AS t(u)),
      mins AS (
        SELECT doc_id, pos,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk
        FROM grams),
      sel AS (SELECT DISTINCT doc_id, mk FROM mins WHERE pos >= 3),
      sa AS (SELECT doc_id, COUNT(*) AS n_selected,
                    bit_xor(mk) AS sel_xor
             FROM sel GROUP BY doc_id),
      ga AS (SELECT doc_id, COUNT(*) AS n_kgrams
             FROM grams GROUP BY doc_id)
      SELECT g.doc_id, g.n_kgrams, s.n_selected,
             ROUND(CAST(s.n_selected AS DOUBLE)
                   / CAST(g.n_kgrams AS DOUBLE), 6) AS density,
             s.sel_xor
      FROM ga g JOIN sa s USING (doc_id)
      ORDER BY doc_id"""))

  val all: Seq[Q] = Seq(qTextQuality, qTextLangid, qTextTokens,
    qTextFingerprint, qTextVocab, qHeavyHitters, qTextCountmin,
    qTextRepetition,
    qTextLogprob, qTextBigramLogprob, qTextBpePairs, qTextBpeMerges,
    qTextBm25, qTextBm25Stored, qTextBm25Reingested, qTextTfidfSim,
    qTextCollocations, qTextChisquare, qStatsSourceOverlap, qTextDistinctN, qStatsDatacard,
    qTextKeywords, qTextEntropy, qTextOov, qTextLangidEval,
    qTextReadability, qTextNovelty, qStatsPsi, qTextCodeScreen,
    qTextZipf, qTextWinnow, qTextDupMass)
}
