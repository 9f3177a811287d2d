package graft.analytics

import graft.{SparkEntry, SparkTestBase}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audit over every registered query: the properties that
  * keep these plans viable at 100 TB, asserted on the actual physical
  * plans Catalyst produces (sf0.001 inputs — plan shape, not data,
  * is under test).
  *
  * Deliberate BroadcastNestedLoopJoin sites are whitelisted: the
  * embedding pair scans join a bounded/broadcast side on a pure
  * inequality, which is the intended bounded-block design.
  */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  // build every query ONCE: some builders are eager (q_dedup_cluster
  // runs its propagation loop at build time), so each test inspects
  // this shared QueryExecution capture instead of rebuilding.
  // executedPlan is FORCED at build time and the cache is cleared
  // between builds: plan resolution applies cache substitution
  // (withCachedData) lazily, and a sibling build's materialized
  // sameResult-cached intermediates would otherwise leak in-memory
  // size statistics into this query's join planning (flipping e.g.
  // the minhash candidate semi-join to a compile-time broadcast,
  // dependent on nothing but Map iteration order) — the audit must
  // see the plan a FRESH session would produce for every query.
  private lazy val qes: Map[String, org.apache.spark.sql.execution.QueryExecution] =
    SparkEntry.queries.map { case (name, fn) =>
      val qe = fn(spark, sf).queryExecution
      qe.executedPlan
      spark.catalog.clearCache()
      name -> qe
    }

  private lazy val plans: Map[String, String] =
    qes.map { case (name, qe) => name -> qe.executedPlan.toString }

  test("no query plans an unbounded cartesian product") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("broadcast nested-loop joins appear only at bounded-block sites") {
    // jaccard/minhash: the BNLJ is the broadcast of the single-row
    // corpus-count scalar used by the stop-shingle threshold.
    // q_sim_ivf_topk: the BNLJ is the 16-row broadcast centroid table
    // every corpus vector scores against (bounded by construction).
    // q_dedup_cluster embeds the minhash pair pipeline, so it carries
    // the same single-row corpus-count broadcast.
    // q_dedup_semantic shares q_sim_ivf_topk's 16-row broadcast
    // centroid-array cross join for cluster assignment.
    // q_text_logprob: the BNLJ is the single-row corpus-token-total
    // scalar broadcast into the unigram LM table.
    // q_sim_pq_topk: the 1-row broadcast codebook array rides a cross
    // join into encode and LUT build (bounded by construction), and
    // the 20 broadcast query LUTs join the corpus codes on a pure
    // self-exclusion inequality — the qSimTopkBrute pattern.
    // q_dedup_incremental embeds the same minhash pipeline as
    // q_dedup_minhash, so it carries the same single-row corpus-count
    // broadcast for the stop-shingle threshold.
    val allowed = Set("q_dedup_embedding", "q_sim_topk_brute",
      "q_sim_lsh_topk", "q_theta_join",
      "q_dedup_ngram_jaccard", "q_dedup_minhash", "q_dedup_cluster",
      "q_sim_ivf_topk", "q_dedup_semantic", "q_text_logprob",
      "q_sim_pq_topk", "q_dedup_incremental",
      // q_sim_ivfpq_stored/_admitted/_rerank: the 1-row stored
      // centroid/codebook tables ride broadcast cross joins into
      // ranking and LUT build — bounded by construction, the
      // qSimIvfPqTopk pattern (rerank's second tier adds only
      // broadcast HASH joins: topR and the query side are equi-keyed)
      "q_sim_ivfpq_topk", "q_sim_ivfpq_stored", "q_sim_ivfpq_admitted",
      "q_sim_ivfpq_rerank", "q_sim_sq_topk",
      // q_prep_pack: the BNLJ is the bucket-prefix theta join over the
      // 256-row bucket-total table (bounded by construction — the
      // second level of the distributed prefix sum)
      "q_prep_pack",
      // q_text_bigram_logprob: the single-row corpus-token-total
      // broadcast (the q_text_logprob pattern); the bigram LM join
      // itself is sort-merge by design
      "q_text_bigram_logprob",
      // q_sim_kmeans: the one-row broadcast centroid array rides a
      // cross join into each assignment pass (bounded by construction,
      // the IVF pattern)
      "q_sim_kmeans",
      // q_sim_ivf_trained: the same one-row trained-centroid broadcast
      // rides assignment AND the query-side probe ranking
      "q_sim_ivf_trained",
      // q_text_bm25: the single-row corpus-stat broadcast rides cross
      // joins into idf and score (the q_text_logprob pattern)
      "q_text_bm25",
      // q_text_bm25_stored/_reingested: the stored one-row stats table
      // rides the same cross joins into TextIndex.search
      "q_text_bm25_stored", "q_text_bm25_reingested",
      // q_text_tfidf_sim: the one-row doc-count broadcast rides a
      // cross join into the df cut (the q_text_logprob pattern)
      "q_text_tfidf_sim",
      // q_graph_pagerank: the one-row rank-mass scalar (1e9 DIV n)
      // rides a cross join into every damping update — bounded by
      // construction, the q_sim_kmeans pattern
      "q_graph_pagerank",
      // q_events_funnel: the one-row funnel-base count rides a cross
      // join into the conversion-rate projection
      "q_events_funnel",
      // q_sim_hybrid_rrf: the BM25 arm carries q_text_bm25's one-row
      // stat broadcast; the vector arm is the qSimTopkBrute
      // 8-query-broadcast self-exclusion inequality join
      "q_sim_hybrid_rrf",
      // q_text_collocations: the one-row bigram-total scalar rides a
      // cross join into the lift projection (the q_text_logprob
      // pattern)
      "q_text_collocations",
      // q_prep_curriculum: the one-row token-extrema aggregate rides
      // a cross join into the banding projection
      "q_prep_curriculum",
      // q_sim_hard_negatives: the 20-anchor broadcast joins the corpus
      // on the pure label-mismatch inequality — the qSimTopkBrute
      // bounded-block pattern with the class filter fused in
      "q_sim_hard_negatives",
      // q_text_chisquare: the one-row corpus-token-total scalar rides
      // a cross join into the statistic (the q_text_logprob pattern)
      "q_text_chisquare",
      // q_stats_profile: the one-row string-min/max aggregate cross-
      // joins the one-row multi-distinct aggregate (both bounded by
      // construction — the split that keeps the expand path on codegen
      // HashAggregate, see the query's scaladoc)
      "q_stats_profile",
      // q_join_interval: the broadcast extrema (one row) ride cross
      // joins into bucketing, and the 256-row bucket-total table joins
      // prefix counts by a bounded theta join — the q_prep_pack
      // two-level-prefix-sum shape, bounded by construction
      "q_join_interval",
      // q_stats_skew: the one-row top-10 rollup cross-joins the
      // one-row key-distribution aggregate (both bounded by
      // construction — the q_events_funnel one-row-broadcast pattern)
      "q_stats_skew",
      // q_stats_gini: countByRank's broadcast extrema + 256-row
      // bucket-prefix theta join (the q_join_interval machinery,
      // bounded by construction)
      "q_stats_gini",
      // q_prep_oversample: the one-row max-stratum scalar rides a
      // cross join into the factor table (the q_prep_curriculum
      // one-row-extrema pattern)
      "q_prep_oversample",
      // q_prep_perplexity: the one-row corpus-token-total scalar rides
      // a cross join into the LM weights (the q_text_logprob pattern,
      // reused verbatim for the per-doc score)
      "q_prep_perplexity",
      // q_prep_binning: countByRank's broadcast extrema + 256-row
      // bucket-prefix theta join (the q_join_interval machinery,
      // bounded by construction)
      "q_prep_binning",
      // q_prep_temperature: the one-row corpus-total and one-row
      // √p-denominator scalars ride cross joins into the |languages|-
      // row frame (the q_prep_oversample one-row-extrema pattern)
      "q_prep_temperature",
      // q_prep_calibration: the one-row mean-length and one-row
      // logit-min/max scalars ride cross joins into the binning
      // projection (the q_events_histogram range pattern; both
      // bounded by construction)
      "q_prep_calibration",
      // q_events_rfm: the one-row anchor-date scalar rides a cross
      // join into the per-user frame (one-row-extrema pattern)
      "q_events_rfm",
      // q_stats_benford: the one-row observation-total scalar rides a
      // cross join into the 9-row digit frame (one-row-scalar pattern)
      "q_stats_benford",
      // q_agg_basket: the one-row order-count scalar rides a cross
      // join into the lift projection (one-row-scalar pattern)
      "q_agg_basket",
      // q_stats_ks: countByRank's broadcast extrema + bucket-prefix
      // theta join (the q_join_interval machinery) plus the one-row
      // n1/n2 and max-diff scalars riding cross joins into the
      // statistic (one-row-scalar pattern)
      "q_stats_ks",
      // q_ts_acf: the one-row hour-span extrema seed the grid explode
      // and the one-row series-total scalar rides a cross join into
      // the per-lag normalization; the 24-row lag table cross-joins
      // the bounded hourly series (bounded by construction)
      "q_ts_acf",
      // q_text_entropy: the one-row corpus-token-total scalar rides a
      // cross join into the corpus LM (the q_text_logprob pattern)
      "q_text_entropy",
      // q_events_pareto: prefixSumByRank's broadcast extrema +
      // bucket-prefix theta join (the q_join_interval machinery) plus
      // the one-row totals scalar riding a cross join into the
      // membership tests (one-row-scalar pattern)
      "q_events_pareto",
      // q_stats_bootstrap: the 100-row replicate table rides a cross
      // join into the per-row weight draw (bounded by construction —
      // the q_sim_kmeans small-broadcast-table pattern), and the one-row
      // base/CI scalars cross-join into the summary
      "q_stats_bootstrap",
      // q_events_survival: countByRank's machinery plus the bounded
      // triangular cumulative-hazard join over the distinct-conversion-
      // day table (the q_prep_pack two-level-prefix shape) and the
      // one-row user-count scalar (one-row-scalar pattern)
      "q_events_survival",
      // q_events_uplift: the one-row pooled-moment scalar (θ, ρ²)
      // rides a cross join into the two variant rows (one-row-scalar
      // pattern)
      "q_events_uplift",
      // q_graph_kcore: the one-row k-threshold scalar rides a cross
      // join into each round's degree filter and the bounded
      // per-round stat rows (one-row-scalar pattern)
      "q_graph_kcore",
      // q_sim_recall_eval: composes q_sim_topk_brute and
      // q_sim_lsh_topk, so it carries their whitelisted
      // 20-query-broadcast self-exclusion inequality joins
      "q_sim_recall_eval",
      // q_dedup_containment: shares the q_dedup_ngram_jaccard shingle
      // pipeline, so it carries the same single-row corpus-count
      // broadcast for the stop-shingle threshold
      "q_dedup_containment",
      // q_graph_ppr: the one-row seed-count scalar rides a cross join
      // into the |seeds|-row teleport table (one-row-scalar pattern)
      "q_graph_ppr",
      // q_stats_mannwhitney: countByRank's broadcast extrema +
      // bucket-prefix theta join (the q_join_interval machinery) plus
      // the one-row (N, tie-term) scalar riding a cross join into the
      // per-group statistic (one-row-scalar pattern)
      "q_stats_mannwhitney",
      // q_ts_xcorr: the one-row hour-span extrema seed the shared
      // grid explode and the 25-row lag table cross-joins the bounded
      // hourly series (the q_ts_acf pattern)
      "q_ts_xcorr",
      // q_events_markov: the one-row state-count scalar rides a cross
      // join into the k-row uniform start vector (one-row-scalar
      // pattern)
      "q_events_markov",
      // q_prep_kfold: the one-row corpus-totals scalar rides a cross
      // join into the k-row fold table (one-row-scalar pattern)
      "q_prep_kfold",
      // q_sim_knn_graph: the bounded embedding sample broadcasts into
      // the self-exclusion inequality join (the q_sim_topk_brute
      // pattern)
      "q_sim_knn_graph",
      // q_graph_hits: the one-row customer-count and renormalization
      // totals are one-row broadcast scalars riding cross joins
      // (one-row-scalar pattern)
      "q_graph_hits",
      // q_sim_mmr: the 20-query broadcast self-exclusion inequality
      // join (the q_sim_topk_brute pattern) seeds the candidate pool
      "q_sim_mmr",
      // q_stats_kruskal: the q_stats_mannwhitney machinery verbatim —
      // countByRank's broadcast extrema + bucket-prefix theta join,
      // plus the one-row (k, S, N, tie-term) scalar riding a cross
      // join into the per-group rows (one-row-scalar pattern)
      "q_stats_kruskal",
      // q_ts_lttb: the one-row hour-span and bucket-extrema scalars
      // ride cross joins into the hourly series (one-row-scalar
      // pattern); the ≤60-row anchor-context join is a broadcast
      // HASH join, not a BNLJ
      "q_ts_lttb",
      // q_events_lifecycle: the one-row max-week horizon scalar rides
      // a cross join into the churn-week clip (one-row-scalar pattern)
      "q_events_lifecycle",
      // q_stats_kendall: the prefixSumByRank bucket-prefix theta join
      // (the q_stats_mannwhitney machinery), the bounded 24-row
      // hour-marginal prefix theta join and 24-row probe fan-out
      // (the q_ts_acf lag-table pattern), and the one-row tie-term
      // scalars riding cross joins (one-row-scalar pattern)
      "q_stats_kendall",
      // q_sim_pca: the one-row Gram-max and L1-norm scalars ride
      // cross joins into rescale and each sweep's renormalization
      // (one-row-scalar pattern); the 64-row u joins are broadcast
      // HASH joins
      "q_sim_pca",
      // q_events_mau: the one-row max-day horizon scalar rides a
      // cross join into the target-day clip (one-row-scalar pattern)
      "q_events_mau",
      // q_graph_modularity: the one-row edge-count m and Q-total
      // scalars ride cross joins into the contribution table and the
      // top-20 rows (one-row-scalar pattern)
      "q_graph_modularity",
      // q_dedup_keep_best embeds the same minhash pair pipeline as
      // q_dedup_cluster, so it carries the same single-row
      // corpus-count broadcast for the stop-shingle threshold
      "q_dedup_keep_best",
      // q_stats_levene: the one-row (N, S, k) totals and the one-row
      // F statistic ride cross joins into the k-row term table and
      // the output rows (one-row-scalar pattern)
      "q_stats_levene",
      // q_prep_kanon: the one-row release-risk scalar rides a cross
      // join into the band rows (one-row-scalar pattern)
      "q_prep_kanon",
      // q_stats_psi: the one-row length-extrema and corpus-total
      // scalars plus the bounded 10-row bin table ride cross joins
      // (one-row-scalar / q_ts_acf lag-table patterns)
      "q_stats_psi",
      // q_events_attribution_position: the one-row grand-total-credit
      // scalar rides a cross join into the channel rollup
      // (one-row-scalar pattern)
      "q_events_attribution_position",
      // q_dedup_source_matrix embeds the same minhash pair pipeline
      // as q_dedup_cluster, so it carries the same single-row
      // corpus-count broadcast for the stop-shingle threshold
      "q_dedup_source_matrix",
      // q_stats_integrity: each FK check's one-row orphan count rides
      // a cross join onto the one-row total (one-row-scalar pattern)
      "q_stats_integrity",
      // q_events_slo_burn: the one-row hour-span scalar rides a cross
      // join into the bounded hourly series (the q_ts_acf pattern)
      "q_events_slo_burn",
      // q_sim_purity: the one-row trained-centroid broadcast rides
      // the assignment cross join (the q_sim_kmeans pattern), and
      // the one-row N/H/MI scalar reductions ride cross joins into
      // the per-cluster rows (one-row-scalar pattern)
      "q_sim_purity",
      // q_sim_ood: the bounded embedding sample broadcasts into the
      // self-exclusion inequality join (the q_sim_knn_graph pattern)
      "q_sim_ood",
      // q_dedup_split_leakage embeds the same minhash pair pipeline
      // as q_dedup_cluster, so it carries the same single-row
      // corpus-count broadcast for the stop-shingle threshold
      "q_dedup_split_leakage",
      // q_stats_anova: the one-row (N, S, k) totals and the one-row
      // (F, eta^2) scalar ride cross joins into the k-row term table
      // and the output rows (one-row-scalar pattern)
      "q_stats_anova",
      // q_sim_silhouette: the one-row trained-centroid broadcast
      // rides the a/b scoring cross join (the q_sim_kmeans pattern)
      // and the one-row overall mean rides a cross join into the
      // per-cluster rows (one-row-scalar pattern)
      "q_sim_silhouette",
      // q_text_zipf: the bounded TakeOrdered(100) vocab ranks via a
      // 100x100 prefix theta join (the q_stats_kendall bounded-
      // prefix pattern) and the one-row OLS fit rides a cross join
      // into the top-20 rows (one-row-scalar pattern)
      "q_text_zipf",
      // q_prep_rendezvous: the one-row (moved_frac,
      // minimal_movement) invariant scalar rides a cross join into
      // the 16-row shard rollup (one-row-scalar pattern)
      "q_prep_rendezvous",
      // q_prep_quota: the one-row corpus-weight total and the
      // one-row leftover scalar each ride a cross join into the
      // bounded per-source frame (one-row-scalar pattern)
      "q_prep_quota",
      // q_sim_matryoshka: the 80-row (query x width) frame broadcasts
      // into the corpus inequality scan (the q_sim_topk_brute
      // bounded-block pattern) plus its 4-row width table cross join
      "q_sim_matryoshka",
      // q_stats_qnorm: the one-row reference-count scalar rides a
      // cross join into the ranked stream (one-row-scalar pattern)
      "q_stats_qnorm",
      // q_events_attribution_decay: the one-row grand-total-credit
      // scalar (the q_events_attribution_position pattern)
      "q_events_attribution_decay",
      // q_dedup_lsh_planner: the one-row argmin-cost scalar rides a
      // cross join into the 7-row literal design grid (one-row-scalar
      // pattern; the query reads no table at all)
      "q_dedup_lsh_planner",
      // q_prep_quota_sample: the apportion() core's two one-row
      // scalar cross joins (the q_prep_quota pattern)
      "q_prep_quota_sample",
      // q_sim_ndcg: the 20-query frame broadcasts into the corpus
      // inequality scan (the q_sim_topk_brute bounded-block pattern)
      "q_sim_ndcg",
      // q_join_order_advisor: the three one-row per-table stats
      // scalars cross-join into the 3-row literal plan frame
      // (one-row-scalar pattern; planning reads only metadata-scale
      // aggregates)
      "q_join_order_advisor",
      // q_sim_coreset: each greedy step broadcasts the <=10-row
      // selected set into the corpus inequality scan (bounded-block
      // pattern, 9 bounded steps)
      "q_sim_coreset",
      // q_stats_mh: the one-row pooled-odds scalar rides a cross
      // join into the 5-row strata frame (one-row-scalar pattern)
      "q_stats_mh",
      // q_agg_partition_advisor: the one-row argmin-fraction scalar
      // rides a cross join into the 4-row candidate frame
      // (one-row-scalar pattern over metadata-scale stats)
      "q_agg_partition_advisor",
      // q_prep_interleave: the one-row corpus-weight total rides a
      // cross join into the ranked stream (one-row-scalar pattern)
      "q_prep_interleave",
      // q_stats_ipw: the one-row pooled-estimator scalar rides a
      // cross join into the 5-row strata frame (one-row-scalar
      // pattern, the q_stats_mh shape)
      "q_stats_ipw",
      // q_stats_wilcoxon: the one-row window-midpoint scalar rides a
      // cross join into the pairing rollup (one-row-scalar pattern)
      "q_stats_wilcoxon",
      // q_stats_friedman: the one-row (A2, n) moment scalar and the
      // one-row numerator scalar ride cross joins into the 5-row
      // treatment frame (one-row-scalar pattern, the ANOVA shape)
      "q_stats_friedman",
      // q_stats_cochranq: the one-row midpoint and one-row
      // (ΣC², N, ΣR², n) moment scalars ride cross joins into the
      // 5-row treatment frame (one-row-scalar pattern)
      "q_stats_cochranq",
      // q_dedup_lsh_recall: the EXACT-truth side is the vec_id<1000
      // block inequality self-join (the q_dedup_embedding bounded-
      // block pattern — truth is O(block²) by definition; the LSH
      // candidate side stays a band equi-join)
      "q_dedup_lsh_recall")
    val offenders = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") &&
        !allowed(n) => n
    }
    assert(offenders.isEmpty, s"unexpected BNLJ in: $offenders")
  }

  test("dedup candidate verify carries no compile-time broadcast hint") {
    // The candidate id set is unbounded on a dup-heavy corpus; a forced
    // broadcast(candIds) would OOM at scale. The initial plan must leave
    // the semi-join a shuffle join — AQE converts to broadcast at
    // runtime only when the set is actually small.
    val offenders = plans("q_dedup_minhash").linesIterator.filter(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(offenders.isEmpty,
      s"forced broadcast on the candidate semi-join: ${offenders.toList}")
  }

  test("ivf centroid assignment is narrow: one window, no corpus shuffle on vec_id") {
    // Round-3 shape ranked a corpus×16 relation through a row_number
    // window — a full shuffle of 16× the corpus rows. The assignment
    // now sorts a 16-element array in-row against the broadcast
    // centroid list; the only remaining window is the final top-k.
    val p = plans("q_sim_ivf_topk")
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 1, s"expected only the final top-k window:\n$p")
    assert(!p.contains("hashpartitioning(vec_id"),
      s"centroid assignment must not shuffle the corpus:\n$p")
  }

  test("no query plans a partition-less window") {
    // An unpartitioned Window puts the whole input into ONE window
    // partition — one task sorts and scans everything. Since the
    // q_window_range_frame banded rewrite, NO registered query may
    // plan one (the global-frame semantics it needed are expressed as
    // a band-partitioned window + groupBy recombine instead).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = qes.flatMap { case (n, qe) =>
      val bad = qe.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty) Some(n) else None
    }
    assert(offenders.isEmpty, s"partition-less windows in: $offenders")
  }

  // The fixture columns a PLAN can't know are bounded but the DATA
  // pins: 3-value flags, 5-value priorities/statuses/event types,
  // the handful of document languages/sources. A rank-like window
  // partitioned ONLY on these over unaggregated rows funnels the
  // corpus into ≤5 reducers at scale — the round-9 audit's one weak
  // class, now linted engine-wide via PlanGuard.
  private val lowCardCols = Set(
    "l_returnflag", "l_linestatus", "o_orderstatus", "o_orderpriority",
    "event_type", "lang", "source", "r_name", "n_name")

  test("no rank-like window rides an unaggregated scan keyed only on bounded-cardinality columns") {
    // q_stats_sprt is the round-9-verdict-sanctioned exemption: a
    // sequential probability ratio test IS a per-series ordered
    // recurrence — the trial index and running success count exist
    // only in arrival order, so a per-stream ordered scan is the
    // correct shape (the same exemption covers Holt and throttle,
    // whose windows ride bounded hourly grids instead). Rank-limit-
    // pushdown windows (q_prep_eval_sample) are exempted by the lint
    // itself: WindowGroupLimit caps map-side forwarding at k rows.
    val exempt = Set("q_stats_sprt")
    val offenders = qes.flatMap { case (n, qe) =>
      val bad = graft.plans.PlanGuard
        .violations(qe.optimizedPlan, lowCardCols)
        .filter(_.kind == "low-card-ordered-window")
      if (bad.nonEmpty && !exempt(n)) Some(n -> bad.mkString("; "))
      else None
    }
    assert(offenders.isEmpty, s"low-card ranked windows in: $offenders")
  }

  test("the low-card lint catches the pre-round-10 ranked-window shape (regression probe)") {
    // a deliberately regressed q_stats_mad-style plan: row_number over
    // raw lineitem rows partitioned on the 3-value return flag behind
    // an alias — the lint must resolve the alias to l_returnflag and
    // flag it, and must ALSO flag the q_join_lead_time shape (rank
    // over an unaggregated join output keyed on the 5-value priority)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_returnflag").as("g"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("x"))
    val probe1 = li.withColumn("rn", row_number().over(
      Window.partitionBy(col("g")).orderBy(col("x"))))
    val v1 = graft.plans.PlanGuard
      .violations(probe1.queryExecution.optimizedPlan, lowCardCols)
    assert(v1.exists(_.kind == "low-card-ordered-window"),
      s"alias-hidden low-card rank not flagged: $v1")
    val joined = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
    val probe2 = joined.withColumn("rk", rank().over(
      Window.partitionBy(col("o_orderpriority"))
        .orderBy(datediff(col("l_shipdate"), col("o_orderdate")))))
    val v2 = graft.plans.PlanGuard
      .violations(probe2.queryExecution.optimizedPlan, lowCardCols)
    assert(v2.exists(_.kind == "low-card-ordered-window"),
      s"low-card rank over join output not flagged: $v2")
    // ...while the FIXED shape — the same rank over the AGGREGATED
    // (priority, days) histogram — must pass: that frame is bounded
    val hist = joined
      .groupBy(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("days"))
      .agg(count(lit(1)).as("cnt"))
    val probe3 = hist.withColumn("rn", row_number().over(
      Window.partitionBy(col("o_orderpriority")).orderBy(col("days"))))
    val v3 = graft.plans.PlanGuard
      .violations(probe3.queryExecution.optimizedPlan, lowCardCols)
    assert(!v3.exists(_.kind == "low-card-ordered-window"),
      s"histogram-input rank must be exempt: $v3")
    // ...and a rank partitioned on a HIGH-cardinality key (suppkey)
    // over the same raw rows must pass: only all-bounded keys funnel
    val probe4 = Tables(spark, sf, "lineitem")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l_suppkey")).orderBy(col("l_quantity"))))
    val v4 = graft.plans.PlanGuard
      .violations(probe4.queryExecution.optimizedPlan, lowCardCols)
    assert(!v4.exists(_.kind == "low-card-ordered-window"),
      s"high-cardinality-keyed rank must be exempt: $v4")
  }

  test("no query plans an unbounded single-row collect aggregate") {
    // A grouping-less Aggregate holding collect_list/collect_set puts
    // its ENTIRE input into one task's aggregation buffer — an OOM at
    // 100 TB unless something below it already bounds the row count
    // (a GlobalLimit, i.e. an orderBy().limit(K) TakeOrdered input).
    // Round-5's q_prep_tokenize collected the whole corpus vocabulary
    // this way; this guard pins the fix and forbids regressions.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LogicalPlan}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet}
    def bounded(p: LogicalPlan): Boolean =
      p.collectFirst { case g: GlobalLimit => g }.nonEmpty
    val offenders = qes.flatMap { case (n, qe) =>
      val bad = qe.optimizedPlan.collect {
        case a: Aggregate if a.groupingExpressions.isEmpty &&
          a.aggregateExpressions.exists(_.exists {
            case _: CollectList | _: CollectSet => true
            case _ => false
          }) && !bounded(a.child) => a
      }
      if (bad.nonEmpty) Some(n) else None
    }
    assert(offenders.isEmpty,
      s"unbounded single-row collect aggregates in: $offenders")
  }

  test("lateral correlated LIMIT decorrelates to a ranked window") {
    // the q_join_lateral claim: Catalyst rewrites the per-row
    // ORDER BY … LIMIT subquery into a window rank over one join —
    // never a per-outer-row re-execution (which would surface as a
    // nested-loop over the full orders subtree)
    val p = plans("q_join_lateral")
    assert(p.contains("Window"),
      s"expected a decorrelated ranked-window plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"lateral subquery must not plan a per-row loop:\n$p")
  }

  test("batch sessionization plans exactly one hash exchange") {
    // lag-flag window, session-numbering window, and the session
    // rollup all key on user_id — the whole chain must ride ONE
    // user_id hash partitioning (the final orderBy's range exchange
    // is the only other allowed shuffle)
    val hashEx = plans("q_sessionize_batch").linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"expected one hash exchange:\n${plans("q_sessionize_batch")}")
  }

  test("path mining fuses both LEADs into one window over one exchange") {
    // the scaladoc claim made mechanical: two lead() calls over the
    // same window spec must compile to ONE physical Window operator,
    // and the user-keyed exchange feeding it must be the plan's only
    // corpus-scale hash exchange (the triple agg reuses it; the
    // ranking is TakeOrdered, not a partition-less window)
    val p = plans("q_events_paths")
    assert(p.linesIterator.count(_.contains("Window [")) == 1,
      s"expected one fused window:\n$p")
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"expected user-key + tiny-agg exchanges only:\n$p")
  }

  test("transition matrix row-normalizes on the tiny frame, not the stream") {
    // window 1 = user-keyed lead; window 2 = prev_type-partitioned
    // normalizing sum — the second must sit ABOVE the aggregate (its
    // input is the <= |types|^2 transition frame, never raw events)
    val p = plans("q_events_transitions")
    val lines = p.linesIterator.toSeq
    val winIdx = lines.zipWithIndex
      .filter(_._1.contains("Window [")).map(_._2)
    assert(winIdx.size == 2, s"expected two windows:\n$p")
    val aggIdx = lines.zipWithIndex
      .filter(_._1.contains("HashAggregate")).map(_._2)
    // formatted plans list operators root-first: the normalizing
    // window (earlier index) must be separated from the lead window
    // (later index) by the aggregate pair
    assert(aggIdx.exists(i => winIdx.head < i && i < winIdx.last),
      s"normalizing window must consume the aggregated frame:\n$p")
  }

  test("dimension joins broadcast the small side") {
    assert(plans("q_join_region_revenue").contains("BroadcastHashJoin"))
  }

  test("filters push down to the parquet scan") {
    assert(plans("q_agg_pricing").contains(
      "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("scans prune to needed columns only") {
    val scanLine = plans("q_agg_pricing").linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    // 6 of lineitem's 11 columns
    assert(scanLine.contains("l_quantity") && scanLine.contains("l_shipdate"))
    assert(!scanLine.contains("l_orderkey"), s"over-wide scan: $scanLine")
  }

  test("prep scans prune the document text when only ids are needed") {
    // q_prep_sample buckets on md5(doc_id) and keeps (doc_id, lang) —
    // reading `text` (the wide column) would multiply scan bytes ~100×
    val scanLine = plans("q_prep_sample").linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("doc_id") && scanLine.contains("lang"),
      s"scan: $scanLine")
    assert(!scanLine.contains("text"), s"over-wide scan: $scanLine")
  }

  test("pipeline queries spread a single-split scan but never re-shuffle a multi-split one") {
    // One-file bench fixture: the scan is one split, so the gate fires
    // (CPU-bound decode must reach every core).
    val single = SparkEntry.queries("q_dns_pipeline_full")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(single.contains("RoundRobinPartitioning"),
      s"single-split input should spread:\n$single")
    // Production shape: the scan already yields >= cores splits — the
    // registered query must NOT carry a full-input shuffle (the only
    // remaining exchange is the oracle-mandated final orderBy).
    val dir = java.nio.file.Files.createTempDirectory("manysplit").toString
    Tables(spark, sf, "events").repartition(64)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val prior = (spark.conf.get("spark.sql.files.maxPartitionBytes"),
      spark.conf.get("spark.sql.files.openCostInBytes"))
    // tiny files would be packed back into few splits; make each file
    // its own split so the scan partitioning mirrors a large input
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    spark.conf.set("spark.sql.files.openCostInBytes", "16384")
    try {
      val multi = SparkEntry.queries("q_dns_pipeline_full")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!multi.contains("RoundRobinPartitioning"),
        s"multi-split input must not re-shuffle:\n$multi")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prior._1)
      spark.conf.set("spark.sql.files.openCostInBytes", prior._2)
    }
  }

  test("documents family spreads a single-split scan but never re-shuffles a multi-split one") {
    // Same contract as the DNS gate, now on the documents loader: the
    // one-file fixture must fan out to every core before the CPU-bound
    // shingle/n-gram work...
    val single = SparkEntry.queries("q_text_repetition")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(single.contains("RoundRobinPartitioning"),
      s"single-split documents scan should spread:\n$single")
    // ...but a production-shaped scan (>= cores splits) must pass
    // through untouched — no unconditional full-input shuffle.
    val dir = java.nio.file.Files.createTempDirectory("manydoc").toString
    Tables(spark, sf, "documents").repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val prior = (spark.conf.get("spark.sql.files.maxPartitionBytes"),
      spark.conf.get("spark.sql.files.openCostInBytes"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    spark.conf.set("spark.sql.files.openCostInBytes", "16384")
    try {
      val multi = SparkEntry.queries("q_text_repetition")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!multi.contains("RoundRobinPartitioning"),
        s"multi-split documents scan must not re-shuffle:\n$multi")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prior._1)
      spark.conf.set("spark.sql.files.openCostInBytes", prior._2)
    }
  }

  test("the dns pipeline plan is shuffle-free") {
    import org.apache.spark.sql.functions._
    val env = spark.range(1).select(
      lit("r").as("requestId"), lit(1L).as("timestamp"),
      array(struct(lit("e30=").as("data"))).as("records"))
    val plan = graft.dns.Pipeline.process(env).lines
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"dns path must not shuffle:\n$plan")
  }

  test("the dns pipeline decodes and parses each record once") {
    import org.apache.spark.sql.catalyst.expressions.UnBase64
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import spark.implicits._
    // A deterministic parse would be cloned by CollapseProject into
    // every field read; the optimized plan must keep exactly one.
    def count(plan: LogicalPlan)(p: PartialFunction[Any, Unit]): Int =
      plan.collectWithSubqueries { case n => n.expressions }.flatten
        .map(_.collect { case e if p.isDefinedAt(e) => e }.size).sum
    val raw = Seq("""{"requestId":"r","records":[{"data":"e30="}]}""").toDS()
    val plans = Seq(
      "routed" -> graft.dns.Pipeline.routed(graft.dns.Pipeline.parseEnvelopes(raw)),
      "q_dns_pipeline_full" -> SparkEntry.queries("q_dns_pipeline_full")(spark, sf))
      .map { case (name, df) => name -> df.queryExecution.optimizedPlan }
    for ((name, plan) <- plans) {
      assert(count(plan) { case _: graft.dns.DnsRecordParse => } === 1,
        s"$name must parse each record once:\n$plan")
      assert(count(plan) { case _: UnBase64 => } === 0,
        s"$name must not decode base64 outside the parse:\n$plan")
    }
  }
}
