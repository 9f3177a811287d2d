package graft.analytics

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Graph analytics over relations the star schema already implies —
  * here: entity importance by PageRank on the customer↔supplier
  * trading graph (an order line `customer bought from supplier` is an
  * edge; rank flows both ways, so well-connected suppliers AND the
  * customers that buy broadly rise together). The same machinery — a
  * sparse edge relation, per-iteration contribution join + in-degree
  * aggregation — is the shape of every distributed power-iteration
  * algorithm; the dedup connected-components resolver
  * ([[DedupQueries]]) is its min-label cousin.
  *
  * Scale shape: one shuffle per iteration, keyed consistently on the
  * node id (the contribution join and the in-sum aggregation reuse
  * the same hash partitioning); the edge relation with out-degrees
  * denormalized persists once and streams through each pass; nothing
  * driver-side ever holds more than the one-row node-count scalar.
  * Iteration count is FIXED (3) — the oracle-parity trade: a
  * convergence test needs a driver-side delta check, a fixed horizon
  * is pure dataflow (and at 100 TB you run fixed sweeps anyway).
  *
  * Cross-engine parity (the [[SimilarityQueries.qSimKmeans]] integer
  * discipline for iterative algorithms): ranks live in NANO-units
  * (1e9 total mass), every per-edge contribution is an exact integer
  * division `r DIV outdeg`, and the damping update
  * `(15·base + 85·insum) DIV 100` stays in BIGINT — every iteration
  * is bit-reproducible in any engine, so a 3-step distributed
  * PageRank hash-matches DuckDB's unrolled recursion exactly.
  * Truncation loss from the integer divisions is bounded by one unit
  * per edge per iteration (spec-asserted conservation bound).
  *
  * The queries share five primitives: one trading-edge builder
  * ([[tradingEdges]]), one both-direction doubling ([[doubled]]), one
  * lineage-truncating loop ([[iterate]]), one frontier BFS ([[bfs]])
  * and one ranked top-k tail ([[topK]]); the first two have DuckDB
  * mirrors, so an edge-definition change lands in exactly two places. */
object GraphQueries {
  import RelationalQueries.Q

  /** The customer–supplier trading edges from ONE orders⋈lineitem join
    * on the order key: (c, s) per distinct customer–supplier pair.
    * `namespaced` ids share one node space (customer = key·2, supplier
    * = key·2+1); raw ids keep the keys. `subgraph` keeps customers
    * below key 500. `coCounts` keeps every pair once with its
    * order-line count `n_co` instead of deduplicating.
    * [[tradingEdgesSql]] is the oracle-side mirror. */
  private def tradingEdges(s: SparkSession, dir: String,
      namespaced: Boolean = true, subgraph: Boolean = false,
      coCounts: Boolean = false): DataFrame = {
    val o = Tables(s, dir, "orders")
    val l = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val lines = (if (subgraph) o.filter(col("o_custkey") < 500) else o)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
    val (c, sp) =
      if (namespaced) (col("o_custkey") * 2, col("l_suppkey") * 2 + 1)
      else (col("o_custkey"), col("l_suppkey"))
    if (coCounts)
      lines.groupBy(c.as("c"), sp.as("s")).agg(count(lit(1)).as("n_co"))
    else lines.select(c.as("c"), sp.as("s")).distinct()
  }

  /** [[tradingEdges]]' oracle-side mirror (distinct pairs); `sAs`
    * names the supplier column. */
  private def tradingEdgesSql(namespaced: Boolean = true,
      subgraph: Boolean = false, sAs: String = "s"): String = {
    val ids = if (namespaced) "o_custkey * 2 AS c, l_suppkey * 2 + 1"
      else "o_custkey AS c, l_suppkey"
    s"""SELECT DISTINCT $ids AS $sAs
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey""" +
      (if (subgraph) "\n        WHERE o_custkey < 500" else "")
  }

  /** Both directions of an undirected edge list in ONE scan: each
    * (a, b) row explodes into (src = a, dst = b) and (src = b, dst = a),
    * each carrying the `carry` columns. A self-union would evaluate the
    * upstream graph build once per branch (r12 measured the two).
    * [[doubledSql]] is the oracle-side mirror. */
  private def doubled(und: DataFrame, a: String, b: String,
      carry: String*): DataFrame = {
    def oriented(x: String, y: String) =
      struct(Seq(col(x).as("src"), col(y).as("dst")) ++ carry.map(col): _*)
    und.select(explode(array(oriented(a, b), oriented(b, a))).as("e"))
      .select(Seq(col("e.src").as("src"), col("e.dst").as("dst")) ++
        carry.map(c => col(s"e.$c").as(c)): _*)
  }

  /** [[doubled]]'s oracle-side mirror. */
  private def doubledSql(rel: String, a: String, b: String): String =
    s"""SELECT $a AS src, $b AS dst FROM $rel
        UNION ALL
        SELECT $b AS src, $a AS dst FROM $rel"""

  /** Traversal edge list: [[doubled]] trading edges hash-partitioned by
    * `src` BEFORE the persist. Every BFS level and walk step joins on
    * src, so the cached distribution is reused and the corpus-scale
    * edge side shuffles ONCE per traversal (the frontier side is the
    * only per-step exchange). Callers release it after their action. */
  private def traversalEdges(eo: DataFrame): DataFrame =
    doubled(eo, "c", "s").repartition(col("src")).persist(MEMORY_AND_DISK)

  /** The one lineage-truncating loop behind every iterative graph query
    * (the Pregel superstep shape): state_i = step(state_{i−1}, i) for
    * i = 1 .. `maxSteps`, each output EAGERLY localCheckpointed —
    * persist plus a flat LogicalRDD leaf in one call, on internal rows.
    * Without the cut, step i's plan nests every earlier step, and plan
    * analysis cost and stack depth scale with ITERATIONS, not data
    * (measured: a 4-hop BFS plan printed 538k lines; k-core spent ~20
    * of 32 s in driver-side re-analysis). `until(prev, next, i)` runs
    * after step i is materialized — the one driver round-trip a
    * convergence test needs; true ends the loop. Superseded leaves
    * release via the context cleaner once unreferenced, so the loop
    * keeps at most two live. Returns (last state, steps run). */
  private[analytics] def iterate(init: DataFrame, maxSteps: Int,
      until: (DataFrame, DataFrame, Int) => Boolean = (_, _, _) => false)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    var state = init
    var i = 0
    var done = false
    while (!done && i < maxSteps) {
      i += 1
      val next = step(state, i).localCheckpoint(true)
      done = until(state, next, i)
      state = next
    }
    (state, i)
  }

  /** The one frontier-BFS kernel: level d's frontier (the visited rows
    * at dist d−1) equi-joins `edges` (src, dst), anti-joins the visited
    * set, and dedups into level d — the textbook Pregel BFS as pure
    * DataFrame algebra, all keyed on the node id so one hash
    * partitioning carries every step. `sources` holds the `keys`
    * columns plus `node`; key columns ride along, so k sources (e.g.
    * closeness's `seed`) traverse jointly and multiply only the
    * frontier rows, never the edge passes. Each level's visited frame
    * is an [[iterate]] step. The traversal stops at the empty-frontier
    * fixpoint, capped at `maxHops`: a level after an empty frontier
    * adds nothing, so fixed-horizon callers get the same visited set.
    * Returns (visited (keys, node, dist), levels that reached new
    * nodes) — the eccentricity, or `maxHops` when that is smaller. */
  private[analytics] def bfs(edges: DataFrame, sources: DataFrame,
      keys: Seq[String], maxHops: Int): (DataFrame, Int) = {
    val id = keys :+ "node"
    // the newest level's row count, observed inside the level's own
    // checkpoint job: the fixpoint test costs no extra Spark job
    var level: Observation = null
    var exhausted = false
    val (visited, steps) = iterate(
        sources.select(id.map(col) :+ lit(0L).as("dist"): _*), maxHops,
        until = (_, _, _) => {
          exhausted = level.get("n") == 0L
          exhausted
        }) { (visited, d) =>
      val frontier = visited.filter(col("dist") === d - 1)
      // visited-membership is a per-row predicate, so the anti-join
      // commutes with distinct; running it BEFORE the distinct means
      // the distinct exchange carries only never-visited expansion
      // rows — at later levels the raw expansion is almost entirely
      // already-visited, so this is the difference between exchanging
      // |edges| and exchanging |new frontier| per level.
      val next = edges.join(frontier, edges("src") === frontier("node"))
        .select(keys.map(frontier(_)) :+ edges("dst").as("node"): _*)
        .join(visited.select(id.map(col): _*), id, "left_anti")
        .distinct()
        .select(id.map(col) :+ lit(d.toLong).as("dist"): _*)
      level = Observation()
      visited.unionByName(next.observe(level, count(lit(1)).as("n")))
    }
    (visited, if (exhausted) steps - 1 else steps)
  }

  /** Ranked top-`k` without a partition-less window: TakeOrdered by
    * `desc` (descending) then `asc` (ascending), then the k rows'
    * structs sort in-row (desc fields negated) and posexplode into
    * `rank` 1..k (the q_prep_tokenize discipline). Returns (rank,
    * desc…, asc…, carry…) with the desc values restored. */
  private def topK(df: DataFrame, k: Int, desc: Seq[String],
      asc: Seq[String], carry: Seq[String] = Nil): DataFrame = {
    val rest = asc ++ carry
    df.orderBy(desc.map(col(_).desc) ++ asc.map(col): _*).limit(k)
      .agg(sort_array(collect_list(struct(
        desc.map(c => (-col(c)).as(s"neg$c")) ++ rest.map(col): _*)))
        .as("ts"))
      .select(posexplode(col("ts")))
      .select((col("pos") + 1).cast("long").as("rank") +:
        (desc.map(c => (-col(s"col.neg$c")).as(c)) ++
          rest.map(c => col(s"col.$c").as(c))): _*)
  }

  /** Integer PageRank over an undirected bipartite edge list `eo`
    * with columns (c, s): both directions are materialized, damping
    * 0.85, `iters` sweeps. Returns (node, r) in nano-units. Exposed
    * for the spec's fixture graphs. */
  private[analytics] def pagerank(eo: DataFrame, iters: Int): DataFrame = {
    val (edgesD, stats, r0) = pagerankSetup(eo)
    var r = r0
    for (_ <- 1 to iters)
      r = pagerankSweep(edgesD, r, _.crossJoin(broadcast(stats)))
    QueryScopedCache.releaseAfter(r, Seq(edgesD, stats))
  }

  /** Shared setup: bidirectional edge list with denormalized
    * out-degrees (persisted), the one-row base-mass scalar, and the
    * uniform initial rank frame. */
  private def pagerankSetup(eo: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // ONE scan of `eo` yields both edge directions ([[doubled]]); stats
    // and r0 then derive from the PERSISTED edge relation, not from
    // fresh `deg` subtrees. The previous shape re-ran the
    // orders⋈lineitem distinct up to eight times per query (setup +
    // stats + r0 + both union branches; r12 operator profile) — now
    // the graph build runs at most twice (the degree join's two
    // sides), and every later consumer is a cache read. `stats`
    // persists too: each sweep broadcasts it, and un-persisted it
    // would re-aggregate the cache per sweep. Callers release BOTH
    // handles (edgesD, stats) after their action.
    val edges = doubled(eo, "c", "s")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesD = edges.join(deg, "src").persist(MEMORY_AND_DISK)
    val srcs = edgesD.select(col("src")).distinct()
    val stats = srcs.agg(
      expr("CAST(1000000000 DIV count(1) AS BIGINT)").as("base"))
      .persist(MEMORY_AND_DISK)
    val r0 = srcs.crossJoin(broadcast(stats))
      .select(col("src").as("node"), col("base").as("r"))
    (edgesD, stats, r0)
  }

  /** One integer PageRank sweep: contribution join + in-sum + damping.
    * `teleport` attaches each node's teleport mass `base` to the
    * (dst, insum) frame: the uniform one-row scalar for global
    * PageRank, the seed-base table for [[qGraphPpr]]. */
  private def pagerankSweep(edgesD: DataFrame, r: DataFrame,
      teleport: DataFrame => DataFrame): DataFrame =
    teleport(edgesD.join(r, edgesD("src") === r("node"))
      .select(col("dst"), expr("r DIV outdeg").as("contrib"))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("insum")))
      .select(col("dst").as("node"),
        expr("CAST((15 * base + 85 * insum) DIV 100 AS BIGINT)").as("r"))

  /** Convergence-gated PageRank (round-9, VERDICT item #6): sweeps
    * until the total absolute rank movement Σ|r_t − r_{t−1}| (exact
    * BIGINT nano-units — no float tolerance ambiguity) drops to
    * `tolNano` or below, capped at `maxIters`. The per-sweep delta
    * check is a driver-side single-row aggregate over the rank frame
    * (already bounded at ≤ |nodes| rows) — the one driver round-trip a
    * convergence test fundamentally needs; everything else stays pure
    * dataflow. Each sweep is an [[iterate]] step, so the delta action
    * and the next sweep share one flat materialization. Returns
    * (ranks, sweepsRun). REGISTERED queries keep fixed horizons — the
    * oracle gate needs a replayable iteration count; this variant is
    * the production API for when the sweep budget should be
    * data-driven. */
  def pagerankUntilConverged(eo: DataFrame, tolNano: Long,
      maxIters: Int): (DataFrame, Int) = {
    val (edgesD, stats, r0) = pagerankSetup(eo)
    val (r, iters) = iterate(r0, maxIters, until = (r, rNext, _) =>
      rNext.join(r.withColumnRenamed("r", "rp"), "node")
        .agg(coalesce(sum(abs(col("r") - col("rp"))), lit(0L)).as("d"))
        .head().getLong(0) <= tolNano) { (r, _) =>
      pagerankSweep(edgesD, r, _.crossJoin(broadcast(stats)))
    }
    (QueryScopedCache.releaseAfter(r, Seq(edgesD, stats)), iters)
  }

  /** One unrolled oracle iteration: `cur` from `prev`, with the uniform
    * teleport by default; [[qGraphPpr]] passes its seed-base one. */
  private def iterSql(prev: String, cur: String,
      base: String = "MIN(st.base)",
      teleport: String = "CROSS JOIN stats st"): String = s"""
      $cur AS (
        SELECT e.dst AS node,
               CAST((15 * $base +
                     85 * CAST(SUM(r.r // d.outdeg) AS BIGINT)) // 100
                 AS BIGINT) AS r
        FROM edges e
        JOIN $prev r ON r.node = e.src
        JOIN deg d ON d.src = e.src
        $teleport
        GROUP BY e.dst)"""

  /** Top-20 trading-graph entities by 3-sweep PageRank. Node ids are
    * namespaced (customer = key·2, supplier = key·2+1) so the two
    * entity families share one graph without collision. */
  val qGraphPagerank = Q(
    "q_graph_pagerank",
    (s, dir) =>
      topK(pagerank(tradingEdges(s, dir), 3), 20, Seq("r"), Seq("node"))
        .select(col("rank"), col("node"), col("r").as("pr_nano"))
        .orderBy(col("rank")),
    Some(s"""
      WITH eo AS MATERIALIZED (
        ${tradingEdgesSql()}),
      edges AS MATERIALIZED (
        ${doubledSql("eo", "c", "s")}),
      deg AS MATERIALIZED (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      stats AS (
        SELECT CAST(1000000000 // COUNT(*) AS BIGINT) AS base FROM deg),
      r0 AS (SELECT src AS node, base AS r FROM deg CROSS JOIN stats),
      ${(1 to 3).map(i => iterSql(s"r${i - 1}", s"r$i")).mkString(",")}
      SELECT rank, node, pr_nano FROM (
        SELECT node, r AS pr_nano,
               ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rank
        FROM r3) x
      WHERE rank <= 20 ORDER BY rank"""))

  /** Personalized PageRank — [[qGraphPagerank]] with the teleport mass
    * redirected to a SEED set (the ten lowest-keyed customers): ranks
    * answer "which entities are important RELATIVE TO these seeds",
    * the recommender / related-entities primitive, where global
    * PageRank answers "important overall". Same integer discipline
    * (nano-unit mass, exact `DIV` contributions, damping in BIGINT),
    * so three sweeps hash-match DuckDB's unrolled recursion exactly.
    *
    * Scale shape: identical to global PageRank — the same
    * [[pagerankSweep]] over the persisted degree-denormalized edge
    * list — with the teleport a broadcast left join per sweep against
    * the seed-base frame (|seeds| rows; a personalization vector is
    * small by definition), zero mass off the seeds. The only new
    * frame is that seed table; the one-row seed-count scalar rides a
    * broadcast cross join. */
  val qGraphPpr = Q(
    "q_graph_ppr",
    (s, dir) => {
      // reuse the shared setup for the persisted edge list; the
      // uniform r0 it also builds is lazy and never executed here
      val (edgesD, stats, _) = pagerankSetup(tradingEdges(s, dir))
      // seeds from the PERSISTED edge relation, not a fresh `eo`
      // evaluation: customer nodes are the even ids by construction
      // (c = custkey·2), so {src even, src ≤ 20} ≡ {c ≤ 20} (r12)
      val seeds = edgesD.select(col("src"))
        .filter(col("src") % 2 === 0 && col("src") <= 20)
        .select(col("src").as("snode")).distinct()
      val ns = seeds.agg(count(lit(1)).as("ns"))
      // persisted: seedBase broadcasts into r0 AND every sweep, and
      // each un-persisted evaluation would re-scan the edge cache
      // twice (seeds + the ns scalar) — 8 scans over the 4 consumers
      val seedBase = seeds.crossJoin(broadcast(ns))
        .select(col("snode"),
          expr("CAST(1000000000 DIV ns AS BIGINT)").as("base"))
        .persist(MEMORY_AND_DISK)
      def seeded(x: DataFrame, key: String): DataFrame =
        x.join(broadcast(seedBase), col(key) === col("snode"), "left")
          .withColumn("base", coalesce(col("base"), lit(0L)))
      var r = seeded(edgesD.select(col("src")).distinct(), "src")
        .select(col("src").as("node"), col("base").as("r"))
      for (_ <- 1 to 3) r = pagerankSweep(edgesD, r, seeded(_, "dst"))
      val res = topK(r, 20, Seq("r"), Seq("node"))
        .select(col("rank"), col("node"), col("r").as("ppr_nano"))
        .orderBy(col("rank"))
      QueryScopedCache.releaseAfter(res, Seq(edgesD, stats, seedBase))
    },
    Some(s"""
      WITH eo AS (
        ${tradingEdgesSql()}),
      edges AS (
        ${doubledSql("eo", "c", "s")}),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      seeds AS (SELECT DISTINCT c AS snode FROM eo WHERE c <= 20),
      ns AS (SELECT COUNT(*) AS ns FROM seeds),
      seedbase AS (
        SELECT snode, CAST(1000000000 // ns AS BIGINT) AS base
        FROM seeds CROSS JOIN ns),
      r0 AS (
        SELECT d.src AS node, COALESCE(sb.base, 0) AS r
        FROM deg d LEFT JOIN seedbase sb ON sb.snode = d.src),
      ${(1 to 3).map(i => iterSql(s"r${i - 1}", s"r$i",
          "COALESCE(MIN(sb.base), 0)",
          "LEFT JOIN seedbase sb ON sb.snode = e.dst")).mkString(",")}
      SELECT rank, node, ppr_nano FROM (
        SELECT node, r AS ppr_nano,
               ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rank
        FROM r3) x
      WHERE rank <= 20 ORDER BY rank"""))

  /** HITS hubs-and-authorities on the DIRECTED customer→supplier
    * purchase graph: authority(s) = Σ hub(c) over buyers, hub(c) =
    * Σ authority(s) over suppliers bought from — broad, well-connected
    * buyers confer authority; buying from authoritative suppliers
    * makes a good hub. Two full rounds from a uniform hub vector.
    * Where PageRank mixes the two roles through the undirected walk,
    * HITS keeps them separate — the bipartite ranking primitive.
    *
    * Integer discipline: classic HITS L2-normalizes (irrational —
    * ungateable); this uses L1 renormalization to 1e9 nano-units
    * (`x·1e9 DIV Σx`), which preserves the score ORDER (the statistic
    * HITS exists for) and keeps every step exact BIGINT. Per-node raw
    * sums are bounded by the previous vector's total (≤ 1e9), so
    * `raw·1e9` stays below 2^63. Scale shape: each half-round is one
    * edge join + one node-keyed aggregation over the persisted edge
    * list (the [[pagerank]] sweep shape on the directed relation);
    * renormalization totals are one-row broadcast scalars. Each raw
    * half-round eager-localCheckpoints BEFORE renormalizing — the
    * renorm consumes its input twice (total + scale), so without the
    * cut the four chained half-rounds re-derive upstream levels
    * exponentially (measured: 22.8 → 3.9 s at sf0.1). Top-20 per
    * side via [[topK]], never a partition-less window. */
  val qGraphHits = Q(
    "q_graph_hits",
    (s, dir) => {
      val eo = tradingEdges(s, dir, namespaced = false)
        .persist(MEMORY_AND_DISK)
      def renorm(x0: DataFrame, key: String, v: String): DataFrame = {
        val x = x0.localCheckpoint(true)
        val tot = x.agg(sum(col(v)).as("tot"))
        x.crossJoin(broadcast(tot))
          .select(col(key),
            expr(s"CAST($v * 1000000000 DIV tot AS BIGINT)").as(v))
      }
      val nc = eo.select(col("c")).distinct().agg(count(lit(1)).as("nc"))
      var h = eo.select(col("c")).distinct().crossJoin(broadcast(nc))
        .select(col("c"), expr("CAST(1000000000 DIV nc AS BIGINT)").as("h"))
      var a: DataFrame = null
      for (_ <- 1 to 2) {
        a = renorm(
          eo.join(h, Seq("c"))
            .groupBy(col("s")).agg(sum(col("h")).as("a")),
          "s", "a")
        h = renorm(
          eo.join(a, Seq("s"))
            .groupBy(col("c")).agg(sum(col("a")).as("h")),
          "c", "h")
      }
      def top20(x: DataFrame, key: String, v: String, side: String) =
        topK(x, 20, Seq(v), Seq(key))
          .select(lit(side).as("side"), col("rank"),
            col(key).as("node"), col(v).as("score_nano"))
      val res = top20(a, "s", "a", "authority")
        .unionByName(top20(h, "c", "h", "hub"))
        .orderBy(col("side"), col("rank"))
      QueryScopedCache.releaseAfter(res, Seq(eo))
    },
    Some {
      def rn(src: String, cur: String, key: String) = s"""
      $cur AS (
        SELECT $key, CAST(v * 1000000000 // (SELECT SUM(v) FROM $src)
          AS BIGINT) AS v FROM $src)"""
      s"""
      WITH eo AS MATERIALIZED (
        ${tradingEdgesSql(namespaced = false, sAs = "sup")}),
      nc AS (SELECT COUNT(DISTINCT c) AS nc FROM eo),
      h0 AS (SELECT DISTINCT c, CAST(1000000000 // nc AS BIGINT) AS v
             FROM eo CROSS JOIN nc),
      a1r AS (SELECT e.sup, CAST(SUM(h.v) AS BIGINT) AS v
              FROM eo e JOIN h0 h ON h.c = e.c GROUP BY e.sup),
      ${rn("a1r", "a1", "sup")},
      h1r AS (SELECT e.c, CAST(SUM(a.v) AS BIGINT) AS v
              FROM eo e JOIN a1 a ON a.sup = e.sup GROUP BY e.c),
      ${rn("h1r", "h1", "c")},
      a2r AS (SELECT e.sup, CAST(SUM(h.v) AS BIGINT) AS v
              FROM eo e JOIN h1 h ON h.c = e.c GROUP BY e.sup),
      ${rn("a2r", "a2", "sup")},
      h2r AS (SELECT e.c, CAST(SUM(a.v) AS BIGINT) AS v
              FROM eo e JOIN a2 a ON a.sup = e.sup GROUP BY e.c),
      ${rn("h2r", "h2", "c")},
      ta AS (
        SELECT 'authority' AS side, rank, node, score_nano FROM (
          SELECT sup AS node, v AS score_nano,
                 ROW_NUMBER() OVER (ORDER BY v DESC, sup) AS rank
          FROM a2) x WHERE rank <= 20),
      th AS (
        SELECT 'hub' AS side, rank, node, score_nano FROM (
          SELECT c AS node, v AS score_nano,
                 ROW_NUMBER() OVER (ORDER BY v DESC, c) AS rank
          FROM h2) x WHERE rank <= 20)
      SELECT side, rank, node, score_nano FROM ta
      UNION ALL
      SELECT side, rank, node, score_nano FROM th
      ORDER BY side, rank"""
    })

  /** Undirected part co-occurrence edge list (a < b, distinct —
    * two parts are adjacent when some order contains both): the ONE
    * graph construction shared by triangles, k-core, and label
    * propagation, with its DuckDB mirror below — a change to the
    * edge definition lands in exactly two places.
    * ~/basket²/ pairs per order, linear in the corpus. */
  private[analytics] def partCoEdges(s: SparkSession,
      dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .distinct()
  }

  /** [[partCoEdges]]'s oracle-side mirror. */
  private val partCoEdgesSql: String =
    """SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"""

  /** Per-node degree of an undirected (a, b) edge list: (n, d). */
  private def degrees(und: DataFrame): DataFrame =
    und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  /** Triangle participation on the part CO-OCCURRENCE graph (two
    * parts are adjacent when some order contains both): the classic
    * distributed triangle count — orient every edge low-id → high-id
    * so each triangle materializes exactly once as an (a<b<c) wedge
    * closed by a third edge lookup, never six times. Output: the 20
    * parts participating in the most triangles (dense co-purchase
    * neighborhoods — the "frequently bought together" backbone).
    *
    * Scale shape: the co-occurrence edge build is a self-join keyed on
    * the order id (bounded fan-out: an order's line count), distinct
    * once, persisted once, then reused by all three legs of the
    * wedge-close join — equi-joins on node ids end to end, no
    * cartesian anywhere. On a skewed degree distribution the
    * refinement is DEGREE ordering instead of id ordering (orient
    * edges toward the higher-degree endpoint so wedges enumerate at
    * the low-degree node — same single-count guarantee, provably
    * minimal wedge volume); id ordering keeps the oracle SQL identical
    * and is the right call on this near-uniform graph. */
  val qGraphTriangles = Q(
    "q_graph_triangles",
    (s, dir) => {
      // persisted (ADVICE r8): the expensive self-join + distinct is
      // consumed twice — degree build AND orientation join — and would
      // recompute without the cache; released with `e` below
      val und = partCoEdges(s, dir).persist(MEMORY_AND_DISK)
      // DEGREE-ORDERED orientation (compact-forward): orient every
      // edge from the (degree, id)-smaller endpoint to the larger, so
      // each triangle enumerates from its π-minimum corner and the
      // wedge space is Σ_v C(outdeg_π(v), 2) with outdeg_π = O(√m) —
      // on a skewed graph this is the difference between the hub's
      // full neighborhood squared and a bounded fan-out. The fixture
      // graph is TPC-H-uniform (measured: parity with ID orientation,
      // 11.1 vs 11.6 s same-load at sf0.1) — the orientation is kept
      // because real co-purchase graphs ARE power-law and the plan is
      // never worse on uniform ones. Orientation changes only the
      // enumeration order, never the triangle set — the oracle's
      // ID-oriented plan still gates.
      val deg = degrees(und)
      val lt = (col("da") < col("db")) ||
        (col("da") === col("db") && col("a") < col("b"))
      val e = und
        .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
        .select(
          when(lt, col("a")).otherwise(col("b")).as("src"),
          when(lt, col("b")).otherwise(col("a")).as("dst"),
          when(lt, col("db")).otherwise(col("da")).as("ddeg"))
        .persist(MEMORY_AND_DISK)
      val wedges = e.as("e1")
        .join(e.as("e2"), col("e1.src") === col("e2.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") &&
              col("e1.dst") < col("e2.dst"))))
        .select(col("e1.src").as("a"), col("e1.dst").as("b"),
          col("e2.dst").as("c"))
      // Runtime-bloom semi-join reduction on the wedge→edge closure
      // (round-9, measured −27% warm at sf0.1, result-identical): the
      // wedge space is ~34× the edge relation (41M wedges vs 1.2M
      // edges here), and most wedges do NOT close — so a fixed 2 MB
      // bloom over the edge keys, probed BEFORE the exchange, keeps
      // the overwhelmingly-non-closing majority out of the shuffle.
      // Catalyst cannot inject this itself (the build side exceeds
      // its 10 MB creation threshold); no false negatives, so the
      // inner closure join below is unchanged. Sizing: ~2× expected
      // edges, 8 bits/item (~2% fp); at larger graphs scale items
      // with the edge estimate within the session's bloom caps.
      val pruned = graft.operators.BloomPrune.pruneByBloom(
        wedges, e, expectedItems = 2000000L, numBits = 16777216L,
        buildKeys = Seq(col("src"), col("dst")),
        probeKeys = Seq(col("b"), col("c")))
      val tri = pruned
        .join(e.as("e3"),
          col("e3.src") === col("b") && col("e3.dst") === col("c"))
        .select(col("a"), col("b"), col("c"))
      val counts = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("part"))
        .groupBy(col("part")).agg(count(lit(1)).as("n_tri"))
      val result = topK(counts, 20, Seq("n_tri"), Seq("part"))
        .select(col("rank"), col("part"), col("n_tri"))
        .orderBy(col("rank"))
      QueryScopedCache.releaseAfter(result, Seq(und, e))
    },
    Some(s"""
      WITH e AS (
        ${partCoEdgesSql}),
      tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1
        JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      counts AS (
        SELECT part, COUNT(*) AS n_tri
        FROM (SELECT unnest([a, b, c]) AS part FROM tri)
        GROUP BY part)
      SELECT rank, part, n_tri FROM (
        SELECT part, n_tri,
               ROW_NUMBER() OVER (ORDER BY n_tri DESC, part) AS rank
        FROM counts) x
      WHERE rank <= 20 ORDER BY rank"""))

  /** BFS hop-distance histogram over an undirected bipartite edge
    * list `eo` with columns (c, s), from the minimum node id, out to
    * `maxHops`; unreached nodes report as `dist = -1`. Exposed for
    * the spec's fixture graphs. */
  private[analytics] def bfsHistogram(eo: DataFrame, maxHops: Int): DataFrame =
    bfsHistogramUntilConverged(eo, maxHops)._1

  /** Convergence-gated BFS (round-9, VERDICT item #6): the [[bfs]]
    * kernel from the minimum node id, which stops as soon as a level's
    * frontier is EMPTY — the natural fixpoint — capped at `maxHops` as
    * a runaway bound. The per-level check reads the level's row count,
    * observed inside the checkpoint job that materializes it (the
    * materialization the next level needs anyway — no extra job). Levels
    * past the fixpoint contribute nothing, so for any `maxHops` ≥ the
    * component's eccentricity the histogram is the fixed-horizon one
    * (spec-pinned). Returns (histogram, levelsRun). */
  def bfsHistogramUntilConverged(eo: DataFrame,
      maxHops: Int): (DataFrame, Int) = {
    val edges = traversalEdges(eo)
    val nodes = edges.select(col("src").as("node")).distinct()
      .persist(MEMORY_AND_DISK)
    val (visited, levels) =
      bfs(edges, nodes.agg(min(col("node")).as("node")), Nil, maxHops)
    val hist = visited.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"))
    val unreached = nodes.join(visited, Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(-1L).as("dist"), col("n_nodes"))
    val result = hist.union(unreached).orderBy(col("dist"))
    (QueryScopedCache.releaseAfter(result, Seq(edges, nodes)), levels)
  }

  /** Breadth-first reachability on the trading graph: hop-distance
    * histogram from a deterministic source (the minimum node id) out
    * to 4 hops, plus the unreached remainder as `dist = -1` — the
    * traversal primitive behind "how far is everything from X"
    * neighborhood questions, and the engine's equivalence to SQL's
    * recursive-CTE family (the oracle IS a `WITH RECURSIVE` query).
    *
    * The distributed shape is the [[bfs]] frontier kernel. The
    * horizon is FIXED (4) for the same oracle-parity reason as
    * [[pagerank]]'s fixed sweeps: BFS level sets are deterministic, so
    * visited-at-level equals the oracle's MIN(dist) per node exactly.
    * At 100 TB the identical loop runs with the frontier bucketed by
    * node id; nothing here is driver-side (the source node is a
    * one-row frame, never a collect). */
  val qGraphBfs = Q(
    "q_graph_bfs",
    (s, dir) => bfsHistogram(tradingEdges(s, dir), 4),
    Some(s"""
      WITH RECURSIVE eo AS (
        ${tradingEdgesSql()}),
      edges AS (
        ${doubledSql("eo", "c", "s")}),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      srcn AS (SELECT MIN(node) AS node FROM nodes),
      reach AS (
        SELECT node, 0 AS dist FROM srcn
        UNION
        SELECT e.dst, r.dist + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.dist < 4),
      best AS (SELECT node, MIN(dist) AS dist FROM reach GROUP BY node)
      SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_nodes
      FROM best GROUP BY dist
      UNION ALL
      SELECT CAST(-1 AS BIGINT),
             (SELECT COUNT(*) FROM nodes) - (SELECT COUNT(*) FROM best)
      ORDER BY dist"""))

  /** Link prediction by neighborhood overlap: the top-20 supplier
    * pairs most similar by the customers they share, scored with an
    * exact integer Jaccard (common·10⁶ ÷ |union|, integer division —
    * no float in the ranking). The classic common-neighbors /
    * node-similarity primitive behind "suppliers substitutable for
    * X" and collaborative-filtering candidate generation.
    *
    * Distributed shape: wedge enumeration from the CUSTOMER side —
    * the bounded-fan-out center of this bipartite graph (a customer
    * touches ~tens of suppliers; a supplier touches thousands of
    * customers, and centering there would square it). One self-join
    * on the customer key produces Σ_c C(deg(c), 2) ordered pairs,
    * aggregated per pair; degrees come from the same cached edge
    * relation. At skew, the hot-customer fan-out is the salting
    * candidate, same playbook as [[qGraphTriangles]]'s orientation.
    * Top-k is [[topK]] (no partition-less window). */
  val qGraphJaccard = Q(
    "q_graph_jaccard",
    (s, dir) => {
      // consumed twice (degrees + wedge self-join): persist so the
      // join+distinct materializes once
      val ce = tradingEdges(s, dir, namespaced = false)
        .persist(MEMORY_AND_DISK)
      val deg = ce.groupBy(col("s")).agg(count(lit(1)).as("d"))
      val pairs = ce.as("x").join(ce.as("y"),
          col("x.c") === col("y.c") && col("x.s") < col("y.s"))
        .groupBy(col("x.s").as("s1"), col("y.s").as("s2"))
        .agg(count(lit(1)).as("common"))
      val scored = pairs
        .join(deg.select(col("s").as("s1"), col("d").as("d1")), "s1")
        .join(deg.select(col("s").as("s2"), col("d").as("d2")), "s2")
        .select(col("s1"), col("s2"), col("common"),
          (col("d1") + col("d2") - col("common")).as("union_size"))
        .withColumn("jaccard_micro",
          expr("common * 1000000L div union_size"))
      val result = topK(scored, 20, Seq("jaccard_micro"), Seq("s1", "s2"),
          Seq("common", "union_size"))
        .select(col("rank"), col("s1"), col("s2"), col("common"),
          col("union_size"), col("jaccard_micro"))
        .orderBy(col("rank"))
      QueryScopedCache.releaseAfter(result, Seq(ce))
    },
    Some(s"""
      WITH ce AS (
        ${tradingEdgesSql(namespaced = false, sAs = "sp")}),
      deg AS (SELECT sp, CAST(COUNT(*) AS BIGINT) AS d
              FROM ce GROUP BY sp),
      pairs AS (
        SELECT x.sp AS s1, y.sp AS s2, CAST(COUNT(*) AS BIGINT) AS common
        FROM ce x JOIN ce y ON x.c = y.c AND x.sp < y.sp
        GROUP BY x.sp, y.sp),
      scored AS (
        SELECT s1, s2, common,
               d1.d + d2.d - common AS union_size,
               common * 1000000 // (d1.d + d2.d - common) AS jaccard_micro
        FROM pairs
        JOIN deg d1 ON d1.sp = s1
        JOIN deg d2 ON d2.sp = s2)
      SELECT rank, s1, s2, common, union_size, jaccard_micro FROM (
        SELECT s1, s2, common, union_size, jaccard_micro,
               ROW_NUMBER() OVER (ORDER BY jaccard_micro DESC, s1, s2)
                 AS rank
        FROM scored) x
      WHERE rank <= 20 ORDER BY rank"""))

  /** Degree assortativity of the customer–supplier trading graph —
    * the edge-level Pearson correlation between endpoint degrees
    * (do high-degree customers trade with high-degree suppliers?),
    * the one-number mixing summary that decides whether hub-targeted
    * sampling or skew salting will pay off on this graph. All five
    * sufficient statistics (Σdc, Σds, Σdc·ds, Σdc², Σds²) accumulate
    * as exact DECIMAL(38,0) over the edge list (one factor cast
    * before each product — the qStatsSpearman seam), and the final
    * correlation runs in MEAN form (sxy/m − (sx/m)(sy/m) …): no
    * m·Σ or Σ·Σ integer product ever forms, so there is no bound to
    * guard — the round-11 sf1 gate tripped the previous BIGINT
    * guard's m·moment headroom at 10× rows, and headroom guards
    * only move the cliff. Every double op (÷, ×, −, √) is correctly
    * rounded by IEEE spec, so the IDENTICAL op tree on identical
    * exact integer inputs is bit-deterministic cross-engine; rounds
    * once at 6. Scale shape: one distinct-edge exchange, two degree
    * aggregations on the edge keys (partitioning reused), one
    * broadcast-sized degree join per side, one scalar reduce. */
  val qGraphAssortativity = Q(
    "q_graph_assortativity",
    (s, dir) => {
      val eo = tradingEdges(s, dir, namespaced = false)
      val degc = eo.groupBy(col("c")).agg(count(lit(1)).as("dc"))
      val degs = eo.groupBy(col("s")).agg(count(lit(1)).as("ds"))
      val agg = eo.join(degc, Seq("c")).join(degs, Seq("s"))
        .agg(count(lit(1)).as("m"),
          sum(expr("cast(dc as decimal(38,0))")).as("sx"),
          sum(expr("cast(ds as decimal(38,0))")).as("sy"),
          sum(expr("cast(dc as decimal(25,0)) * ds")).as("sxy"),
          sum(expr("cast(dc as decimal(25,0)) * dc")).as("sxx"),
          sum(expr("cast(ds as decimal(25,0)) * ds")).as("syy"))
      val md = col("m").cast("double")
      val mx = col("sx").cast("double") / md
      val my = col("sy").cast("double") / md
      agg.select(col("m").as("n_edges"),
        round((col("sxy").cast("double") / md - mx * my) /
          (sqrt(col("sxx").cast("double") / md - mx * mx) *
            sqrt(col("syy").cast("double") / md - my * my)), 6)
          .as("assortativity"))
    },
    Some(s"""
      WITH eo AS (
        ${tradingEdgesSql(namespaced = false)}),
      degc AS (SELECT c, COUNT(*) AS dc FROM eo GROUP BY c),
      degs AS (SELECT s, COUNT(*) AS ds FROM eo GROUP BY s),
      agg AS (
        SELECT COUNT(*) AS m,
               CAST(SUM(CAST(dc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(ds AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(dc AS DECIMAL(25,0)) * ds) AS DECIMAL(38,0))
                 AS sxy,
               CAST(SUM(CAST(dc AS DECIMAL(25,0)) * dc) AS DECIMAL(38,0))
                 AS sxx,
               CAST(SUM(CAST(ds AS DECIMAL(25,0)) * ds) AS DECIMAL(38,0))
                 AS syy
        FROM eo JOIN degc USING (c) JOIN degs USING (s))
      SELECT m AS n_edges,
             ROUND((CAST(sxy AS DOUBLE) / CAST(m AS DOUBLE)
                    - (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
                      * (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)))
                   / (SQRT(CAST(sxx AS DOUBLE) / CAST(m AS DOUBLE)
                           - (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
                             * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)))
                      * SQRT(CAST(syy AS DOUBLE) / CAST(m AS DOUBLE)
                             - (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE))
                               * (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)))),
                   6) AS assortativity
      FROM agg"""))

  /** k-core peeling on the part co-occurrence graph — four rounds of
    * the classic degeneracy decomposition (repeatedly delete nodes of
    * degree < k; what survives is the k-core, the densely-knit
    * subgraph community detection and graph-sampling pipelines start
    * from). k is data-derived — the ceiling of the initial average
    * degree, ⌈2m/n⌉ — so the threshold scales with the fixture and
    * the peel genuinely cascades (removals lower neighbors' degrees,
    * re-tested next round). Fixed four-round horizon for oracle
    * parity (the [[qGraphPagerank]] discipline; an untilConverged
    * variant would follow pagerank's driver-side bounded delta).
    *
    * Scale shape: each round is one degree aggregation keyed on the
    * node + two node-keyed LEFT SEMI joins back onto the edge list —
    * never an explode beyond the 2-direction degree scan; the
    * threshold is a one-row broadcast; each round's surviving edge
    * list is an [[iterate]] step and its surviving node set a flat
    * leaf too, and the census frames persist and release with the
    * result action (QueryScopedCache). Output: one bounded row per
    * round (surviving nodes / induced edges). */
  val qGraphKcore = Q(
    "q_graph_kcore",
    (s, dir) => {
      val und = partCoEdges(s, dir).persist(MEMORY_AND_DISK)
      // the round-1 degree table doubles as the graph census: one row
      // per node (nn = its count) and Σd = 2m — so k derives from it
      // directly, with no separate edge-count or node-distinct pass
      // (the first draft ran both, ~2 extra corpus passes at sf0.1)
      val deg1 = degrees(und).persist(MEMORY_AND_DISK)
      // persisted: kdf is referenced by all four rounds' filters plus
      // the final projection; unpersisted, each evaluation re-runs
      // its aggregation
      val kdf = deg1.agg(count(lit(1)).as("nn"), sum(col("d")).as("m2"))
        .select(expr("CAST((m2 + nn - 1) DIV nn AS BIGINT)").as("k"))
        .persist(MEMORY_AND_DISK)
      // Each round's row counts its flat surviving-node leaf `keep` and
      // its materialized edge list, read in the after-step hook. The
      // semi joins stay on the shuffle path (A/B'd: explicit broadcast
      // of the node set read 18.9–22.7 s vs 16.3 s shuffled — per-round
      // driver broadcast construction cost more than the edge
      // exchanges it saved at this scale).
      var keep: DataFrame = null
      val rounds = Seq.newBuilder[DataFrame]
      iterate(und, 4, until = (_, next, r) => {
        rounds += keep.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(next.agg(count(lit(1)).as("n_edges")))
          .select(lit(r.toLong).as("round"), col("n_nodes"),
            col("n_edges"))
        false
      }) { (edges, r) =>
        keep = (if (r == 1) deg1 else degrees(edges))
          .crossJoin(broadcast(kdf))
          .filter(col("d") >= col("k")).select(col("n"))
          .localCheckpoint(true)
        edges
          .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
      }
      val result = rounds.result().reduce(_.unionByName(_))
        .crossJoin(broadcast(kdf))
        .select(col("round"), col("k"), col("n_nodes"), col("n_edges"))
        .orderBy(col("round"))
      QueryScopedCache.releaseAfter(result, Seq(und, deg1, kdf))
    },
    Some {
      // every CTE is MATERIALIZED and the induced-subgraph filter is a
      // plain two-join semi form: the naive IN-subquery unrolling made
      // DuckDB re-evaluate each round's whole ancestry per reference
      // (exponential in rounds — measured as a >10 min hang at sf0.01)
      def round(i: Int): String = s"""
      d$i AS MATERIALIZED (SELECT n, COUNT(*) AS d FROM (
                SELECT a AS n FROM e${i - 1}
                UNION ALL SELECT b FROM e${i - 1}) GROUP BY n),
      keep$i AS MATERIALIZED (
        SELECT n FROM d$i CROSS JOIN kv WHERE d >= k),
      e$i AS MATERIALIZED (
        SELECT e.a, e.b FROM e${i - 1} e
        JOIN keep$i ka ON e.a = ka.n
        JOIN keep$i kb ON e.b = kb.n)"""
      def stat(i: Int): String = s"""
      SELECT CAST($i AS BIGINT) AS round, k,
             (SELECT COUNT(*) FROM keep$i) AS n_nodes,
             (SELECT COUNT(*) FROM e$i) AS n_edges
      FROM kv"""
      s"""
      WITH e0 AS MATERIALIZED (
        ${partCoEdgesSql}),
      nodes0 AS MATERIALIZED (SELECT DISTINCT n FROM (
        SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)),
      kv AS MATERIALIZED (
        SELECT CAST((2 * (SELECT COUNT(*) FROM e0)
                     + (SELECT COUNT(*) FROM nodes0) - 1)
                    // (SELECT COUNT(*) FROM nodes0)
              AS BIGINT) AS k),
      ${(1 to 4).map(round).mkString(",")}
      ${(1 to 4).map(stat).mkString(" UNION ALL ")}
      ORDER BY round"""
    })

  /** Label-propagation input: the part co-occurrence edges both ways,
    * as a flat leaf — every sweep joins it, and un-cut each would
    * re-run the co-occurrence self-join. */
  private def lpEdges(und: DataFrame): DataFrame =
    doubled(und, "a", "b").localCheckpoint(true)

  /** `rounds` sweeps of argmax label propagation over a directed edge
    * list (src, dst) that holds each pair at most once: every node
    * adopts its neighbors' plurality label, ties to the smallest label
    * (a total order, so every sweep is deterministic and cross-engine
    * replayable). Each sweep is an
    * [[iterate]] step — the label table feeds the next round's join
    * AND any downstream consumer, and flat leaves keep plan analysis
    * linear in rounds. Shared by [[qGraphLabelProp]] and
    * [[qGraphModularity]]. */
  private def lpLabels(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"lpLabels needs >= 1 round, got $rounds")
    // Argmax without a window (r12 optimization): the plurality pick
    // (max n, ties to the SMALLEST label) is max(struct(n, -label)) —
    // a plain hash aggregation with map-side partial combining, where
    // the previous row_number window needed the same src exchange PLUS
    // a full per-partition sort of the (src, label, n) table. Node ids
    // are non-negative in every caller (part keys / namespaced keys),
    // so the negation is a total order flip, never an overflow.
    def argmax(counted: DataFrame): DataFrame = counted
      .groupBy(col("src"))
      .agg(max(struct(col("n"), (-col("label")).as("nl"))).as("t"))
      .select(col("src").as("node"), (-col("t.nl")).as("label"))
    // Sweep 1 against the IDENTITY labeling (every node its own label)
    // needs no label join, no distinct-node scan and no count:
    // label(dst) = dst, and each (src, dst) pair occurs once, so every
    // neighbor label counts 1 and the tie rule picks min(dst) — one
    // src-keyed aggregation. The loop's initial identity frame is
    // never evaluated.
    val identity = edges.select(col("src").as("node"), col("src").as("label"))
    iterate(identity, rounds) { (labels, r) =>
      if (r == 1)
        edges.groupBy(col("src").as("node")).agg(min(col("dst")).as("label"))
      else argmax(edges
        .join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("n")))
    }._1
  }

  /** [[lpLabels]]' oracle-side mirror at two sweeps: the CTEs `und`,
    * `edges` and the label tables `l0` … `l2`. */
  private val lp2Sql: String = {
    def sweep(i: Int): String = s"""
      c$i AS MATERIALIZED (
        SELECT e.src, l.label, COUNT(*) AS n
        FROM edges e JOIN l${i - 1} l ON l.node = e.dst
        GROUP BY e.src, l.label),
      l$i AS MATERIALIZED (
        SELECT src AS node, label FROM (
          SELECT src, label,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY n DESC, label) AS rk
          FROM c$i) x WHERE rk = 1)"""
    s"""
      WITH und AS MATERIALIZED (
        ${partCoEdgesSql}),
      edges AS MATERIALIZED (
        ${doubledSql("und", "a", "b")}),
      l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM edges),""" +
      (1 to 2).map(sweep).mkString(",")
  }

  /** Two-sweep label propagation (community detection) on the part
    * co-occurrence graph — each sweep reassigns every node the most
    * frequent label among its neighbors, ties to the smallest label
    * (the deterministic synchronous LPA variant; the async/random
    * variant is not gateable). Fixed two-sweep horizon for oracle
    * parity, sweeps lineage-truncated by [[iterate]] (the
    * [[qGraphKcore]] lesson — nested sweep plans cost driver analysis
    * time, not cluster time). Output: the 20 largest label groups.
    *
    * Scale shape per sweep: one exchange of the (node, neighbor-label)
    * pairs for the count aggregation, which the argmax reuses — a
    * `max(struct(n, −label))` hash aggregation on the same node key,
    * partially combined map-side; label state is one row per node,
    * never a neighbor list. */
  val qGraphLabelProp = Q(
    "q_graph_label_prop",
    (s, dir) =>
      lpLabels(lpEdges(partCoEdges(s, dir)), 2)
        .groupBy(col("label")).agg(count(lit(1)).as("community_size"))
        .orderBy(col("community_size").desc, col("label"))
        .limit(20),
    Some(s"""$lp2Sql
      SELECT label, COUNT(*) AS community_size
      FROM l2 GROUP BY label
      ORDER BY community_size DESC, label LIMIT 20"""))

  /** Multi-source closeness/harmonic centrality — joint BFS from the
    * 4 lowest-id customer nodes of the (o_custkey < 500) trading
    * subgraph out to 4 hops, reporting per seed the reached-node
    * count, total hop distance, harmonic sum, and closeness — the
    * landmark-centrality estimator (computing exact closeness for
    * ALL nodes is |V| BFS traversals; production samples a seed set
    * and this is that operator for k seeds at once).
    *
    * The joint traversal carries (seed, node) state through ONE
    * shared frontier iteration — the [[bfs]] kernel with a seed key
    * column: the edge relation still shuffles once for the whole
    * traversal (partitioned-by-src persist), each level is one
    * frontier join + anti-join + distinct keyed the same way. k seeds
    * multiply only the frontier rows, never the edge passes — the
    * reason landmark batching beats k separate traversals.
    *
    * Centrality arithmetic is all-integer: harmonic_micro sums
    * `1000000 DIV d` (exact truncated reciprocals), closeness_micro
    * is `n_reached·1000000 DIV sum_dist` — no float anywhere, so the
    * recursive-CTE oracle hash-matches exactly. */
  val qGraphCloseness = Q(
    "q_graph_closeness",
    (s, dir) => {
      val edges = traversalEdges(tradingEdges(s, dir, subgraph = true))
      // 4 lowest-id customer nodes (even ids): TakeOrdered, bounded
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 2 === 0)
        .orderBy(col("node")).limit(4)
        .select(col("node").as("seed"), col("node"))
      val (visited, _) = bfs(edges, seeds, Seq("seed"), 4)
      val result = visited.filter(col("dist") >= 1)
        .groupBy(col("seed"))
        .agg(count(lit(1)).as("n_reached"),
          sum(col("dist")).as("sum_dist"),
          sum(expr("1000000 div dist")).as("harmonic_micro"))
        .select(col("seed"), col("n_reached"), col("sum_dist"),
          col("harmonic_micro"),
          expr("n_reached * 1000000 div sum_dist").as("closeness_micro"))
        .orderBy(col("seed"))
      QueryScopedCache.releaseAfter(result, Seq(edges))
    },
    Some(s"""
      WITH RECURSIVE eo AS (
        ${tradingEdgesSql(subgraph = true)}),
      edges AS (
        ${doubledSql("eo", "c", "s")}),
      seeds AS (
        SELECT src AS seed FROM (
          SELECT DISTINCT src FROM edges WHERE src % 2 = 0)
        ORDER BY src LIMIT 4),
      reach AS (
        SELECT seed, seed AS node, 0 AS dist FROM seeds
        UNION
        SELECT r.seed, e.dst, r.dist + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.dist < 4),
      best AS (
        SELECT seed, node, MIN(dist) AS dist
        FROM reach GROUP BY seed, node)
      SELECT seed, COUNT(*) AS n_reached,
             CAST(SUM(dist) AS BIGINT) AS sum_dist,
             CAST(SUM(1000000 // dist) AS BIGINT) AS harmonic_micro,
             COUNT(*) * 1000000 // CAST(SUM(dist) AS BIGINT)
               AS closeness_micro
      FROM best WHERE dist >= 1
      GROUP BY seed ORDER BY seed"""))

  /** Modularity of the communities [[qGraphLabelProp]] itself finds —
    * the partition-quality score Q = Σ_c (e_c/m − (deg_c/2m)²) that
    * turns "label propagation produced groups" into "and they are
    * denser than chance": the evaluation closure every community
    * pipeline needs before acting on its clusters. Output: the 20
    * largest communities with their internal-edge count e_c, degree
    * mass deg_c, per-community contribution, and the global Q on
    * every row.
    *
    * e_c, deg_c, m gate as exact integers; each contribution is one
    * rounded IEEE expression over them and the global Q is the
    * rounded-then-DECIMAL order-independent sum
    * ([[TextQueries.qTextLogprob]] discipline). The shared two-sweep
    * [[lpLabels]] state is checkpointed, so the three consumers
    * (sizes, internal-edge join, degree join) read flat leaves; the
    * contribution table persists for its two actions (global sum +
    * top-20).
    *
    * Scale shape: beyond label propagation itself, one a-keyed and
    * one b-keyed hash join attach labels to the undirected edge list,
    * one src-keyed join attaches them to the degree list, and all
    * rollups land on the community key; the one-row m scalar and the
    * one-row Q total ride broadcast cross joins. */
  val qGraphModularity = Q(
    "q_graph_modularity",
    (s, dir) => {
      val und = partCoEdges(s, dir).persist(MEMORY_AND_DISK)
      val labels = lpLabels(lpEdges(und), 2)
      val mrow = und.agg(count(lit(1)).as("m"))
      val sizes = labels.groupBy(col("label"))
        .agg(count(lit(1)).as("community_size"))
      // One labeled-edge table serves BOTH rollups (r12 optimization):
      // und joined to labels on a and b once, persisted; e_c filters
      // it to within-community edges, and deg_c — each endpoint's
      // community degree, i.e. one count per (la) and one per (lb) —
      // explodes the SAME cached rows instead of re-joining the
      // doubled `edges` relation (2m rows) against labels a third
      // time. Identical counts: every directed edge (src, dst) of the
      // old deg join is one endpoint slot of exactly one und row.
      val lab = und
        .join(labels.select(col("node").as("a"), col("label").as("la")),
          Seq("a"))
        .join(labels.select(col("node").as("b"), col("label").as("lb")),
          Seq("b"))
        .select(col("la"), col("lb"))
        .persist(MEMORY_AND_DISK)
      val ec = lab
        .filter(col("la") === col("lb"))
        .select(col("la").as("label"))
        .groupBy(col("label")).agg(count(lit(1)).as("e_c"))
      val deg = lab
        .select(explode(array(col("la"), col("lb"))).as("label"))
        .groupBy(col("label")).agg(count(lit(1)).as("deg_c"))
      val contrib = sizes
        .join(ec, Seq("label"), "left")
        .join(deg, Seq("label"))
        .crossJoin(broadcast(mrow))
        .select(col("label"), col("community_size"),
          coalesce(col("e_c"), lit(0L)).as("e_c"), col("deg_c"),
          col("m"))
        .withColumn("q_contrib", round(
          col("e_c").cast("double") / col("m").cast("double") -
            (col("deg_c").cast("double") /
              (lit(2.0) * col("m").cast("double"))) *
            (col("deg_c").cast("double") /
              (lit(2.0) * col("m").cast("double"))), 9))
        .persist(MEMORY_AND_DISK)
      val qtot = contrib
        .agg(sum(expr("cast(q_contrib as decimal(25,9))")).as("qd"))
        .select(col("qd").cast("double").as("q_total"))
      val result = contrib
        .orderBy(col("community_size").desc, col("label")).limit(20)
        .crossJoin(broadcast(qtot))
        .select(col("label"), col("community_size"), col("e_c"),
          col("deg_c"), col("q_contrib"), col("q_total"))
        .orderBy(col("community_size").desc, col("label"))
      QueryScopedCache.releaseAfter(result, Seq(und, lab, contrib))
    },
    Some(s"""$lp2Sql,
      m AS (SELECT COUNT(*) AS m FROM und),
      sizes AS (SELECT label, COUNT(*) AS community_size
                FROM l2 GROUP BY label),
      ec AS (
        SELECT la.label, COUNT(*) AS e_c
        FROM und u
        JOIN l2 la ON la.node = u.a
        JOIN l2 lb ON lb.node = u.b
        WHERE la.label = lb.label
        GROUP BY la.label),
      deg AS (
        SELECT l.label, COUNT(*) AS deg_c
        FROM edges e JOIN l2 l ON l.node = e.src
        GROUP BY l.label),
      contrib AS (
        SELECT s.label, s.community_size,
               COALESCE(ec.e_c, 0) AS e_c, d.deg_c, m.m,
               ROUND(CAST(COALESCE(ec.e_c, 0) AS DOUBLE) /
                       CAST(m.m AS DOUBLE) -
                     (CAST(d.deg_c AS DOUBLE) /
                       (2.0 * CAST(m.m AS DOUBLE))) *
                     (CAST(d.deg_c AS DOUBLE) /
                       (2.0 * CAST(m.m AS DOUBLE))), 9) AS q_contrib
        FROM sizes s
        LEFT JOIN ec USING (label)
        JOIN deg d USING (label)
        CROSS JOIN m),
      qtot AS (
        SELECT CAST(SUM(CAST(q_contrib AS DECIMAL(25,9))) AS DOUBLE)
          AS q_total
        FROM contrib)
      SELECT c.label, c.community_size, c.e_c, c.deg_c,
             c.q_contrib, q.q_total
      FROM contrib c CROSS JOIN qtot q
      ORDER BY c.community_size DESC, c.label LIMIT 20"""))

  /** Deterministic random-walk corpus over the trading subgraph — the
    * DeepWalk/node2vec TRAINING-DATA generator: one length-4 walk per
    * customer node, where each step moves to the neighbor minimizing
    * md5(current−step−neighbor) — hash-derived pseudo-randomness, the
    * same derandomization the MinHash permutations and LSH
    * hyperplanes use, so the "random" walks are bit-reproducible and
    * the whole corpus gates by hash-match. Feed the emitted node
    * sequences to any skip-gram trainer and you have graph
    * embeddings; this query is the distributed corpus-builder stage.
    *
    * Scale shape: the edge relation partitions by src once and
    * persists ([[traversalEdges]]); each of the 4 steps is one
    * frontier join on that same keying plus one seed-partitioned
    * argmin window (never global), each step an [[iterate]] step so
    * plans stay flat. Walk count scales with seed nodes, walk state is
    * one row per seed. */
  val qGraphWalks = Q(
    "q_graph_walks",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val edges = traversalEdges(tradingEdges(s, dir, subgraph = true))
      val wS = Window.partitionBy(col("seed"))
      val seeds = edges.select(col("src").as("seed")).distinct()
        .filter(col("seed") % 2 === 0)
        .withColumn("cur", col("seed"))
      val (walk, _) = iterate(seeds, 4) { (walk, t) =>
        walk
          .join(edges, col("cur") === col("src"))
          .withColumn("h",
            md5(concat_ws("-", col("cur"), lit(t), col("dst"))))
          .withColumn("rk", row_number().over(
            wS.orderBy(col("h"), col("dst"))))
          .filter(col("rk") === 1)
          .drop("src", "h", "rk", "cur")
          .withColumnRenamed("dst", s"n$t")
          .withColumn("cur", col(s"n$t"))
      }
      val result = walk.select(col("seed"), col("n1"), col("n2"),
          col("n3"), col("n4"))
        .orderBy(col("seed"))
      QueryScopedCache.releaseAfter(result, Seq(edges))
    },
    Some {
      def step(t: Int): String = {
        val ns = (1 until t).map(i => s"n$i")
        val cur = if (t == 1) "cur" else s"n${t - 1}"
        val from = if (t == 1) "w0" else s"s${t - 1}"
        s"""
      s$t AS (
        SELECT ${("seed" +: ns).mkString(", ")}, dst AS n$t FROM (
          SELECT ${("w.seed" +: ns.map("w." + _)).mkString(", ")}, e.dst,
                 ROW_NUMBER() OVER (PARTITION BY w.seed
                   ORDER BY md5(concat_ws('-', w.$cur, $t, e.dst)), e.dst)
                   AS rk
          FROM $from w JOIN edges e ON e.src = w.$cur) x WHERE rk = 1)"""
      }
      s"""
      WITH eo AS (
        ${tradingEdgesSql(subgraph = true)}),
      edges AS (
        ${doubledSql("eo", "c", "s")}),
      w0 AS (
        SELECT src AS seed, src AS cur FROM (
          SELECT DISTINCT src FROM edges WHERE src % 2 = 0)),
      ${(1 to 4).map(step).mkString(",")}
      SELECT seed, n1, n2, n3, n4 FROM s4 ORDER BY seed"""
    })

  /** Weighted single-source shortest paths (bounded Bellman–Ford) —
    * [[qGraphBfs]] counts HOPS; this weights each customer↔supplier
    * edge by how weak the relationship is (cost = 10⁶ DIV
    * co-order-count — frequent pairs are cheap to traverse, the
    * standard co-occurrence→distance transform) and relaxes 4 rounds
    * of min-plus from customer node 2·1: the "how related, and
    * through whom" primitive behind supplier-substitution and
    * entity-neighborhood queries where hop count is too coarse. A
    * fixed horizon keeps the oracle an exactly-unrolled chain of
    * min-plus CTEs (the [[qGraphPagerank]] gate discipline); the
    * probe asserts the fixture CONVERGES inside it (round 4 changes
    * nothing). All BIGINT: weights, path costs, min-plus.
    *
    * Scale shape: one co-order rollup builds the weighted edge list
    * (persisted, both directions via [[doubled]]); each relaxation is
    * one node-keyed join+aggregate over the distance frame, an
    * [[iterate]] step — the BFS cost envelope with a cost column along
    * for the ride. Output: the 25 cheapest reachable nodes
    * (deterministic tiebreak). */
  val qGraphSssp = Q(
    "q_graph_sssp",
    (s, dir) => {
      val co = tradingEdges(s, dir, coCounts = true)
        .withColumn("w", expr("1000000 DIV n_co"))
      val ed = doubled(co, "c", "s", "w").persist(MEMORY_AND_DISK)
      val (dist, _) = iterate(
          s.range(1).select(lit(2L).as("node"), lit(0L).as("cost")), 4) {
        (dist, _) =>
          dist
            .join(ed, col("node") === col("src"))
            .select(col("dst").as("node"), (col("cost") + col("w"))
              .as("cost"))
            .unionByName(dist.select(col("node"), col("cost")))
            .groupBy(col("node")).agg(min(col("cost")).as("cost"))
      }
      val res = topK(dist, 25, Nil, Seq("cost", "node"))
        .select(col("rank"), col("node"), col("cost"))
        .orderBy(col("rank"))
      QueryScopedCache.releaseAfter(res, Seq(ed))
    },
    Some {
      def relax(i: Int): String = s"""
      d$i AS (
        SELECT node, MIN(cost) AS cost FROM (
          SELECT e.dst AS node, d.cost + e.w AS cost
          FROM d${i - 1} d JOIN ed e ON e.src = d.node
          UNION ALL SELECT node, cost FROM d${i - 1}) u
        GROUP BY node)"""
      s"""
      WITH co AS (
        SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
               COUNT(*) AS n_co
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      ed AS (
        SELECT c AS src, s AS dst,
               CAST(1000000 // n_co AS BIGINT) AS w FROM co
        UNION ALL
        SELECT s, c, CAST(1000000 // n_co AS BIGINT) FROM co),
      d0 AS (SELECT CAST(2 AS BIGINT) AS node, CAST(0 AS BIGINT)
               AS cost),
      ${(1 to 4).map(relax).mkString(",")},
      top AS (
        SELECT node, cost,
               ROW_NUMBER() OVER (ORDER BY cost, node) AS rank
        FROM d4)
      SELECT CAST(rank AS BIGINT) AS rank, node, cost
      FROM top WHERE rank <= 25
      ORDER BY rank"""
    })

  val all: Seq[Q] =
    Seq(qGraphPagerank, qGraphPpr, qGraphHits, qGraphTriangles, qGraphBfs,
      qGraphJaccard, qGraphAssortativity, qGraphKcore, qGraphLabelProp,
      qGraphCloseness, qGraphModularity, qGraphWalks, qGraphSssp)
}
