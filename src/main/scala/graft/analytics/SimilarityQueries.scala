package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over `embeddings.embedding`
  * (array<float>, 64-dim).
  *
  * Two paths:
  *  - [[qSimTopkBrute]] — exact brute-force cosine top-k for a query
  *    set: the small query side is broadcast, so the big side streams
  *    through one narrow stage (the 100 TB plan: no shuffle of the
  *    corpus, per-partition local scoring, then a tiny top-k shuffle).
  *  - [[qSimLshTopk]] — the scale path: 16-bit sign-random-projection
  *    LSH buckets from deterministic hash-derived hyperplanes; only
  *    same-band candidates are scored. Hash-match oracle-gated since
  *    round 6 (the DuckDB oracle rebuilds the md5-derived planes via
  *    [[lshSigsSql]]); recall vs brute force is ADDITIONALLY
  *    measured and asserted in AnalyticsSpec.
  *
  * Cosines accumulate sequentially in double on both engines and are
  * rounded to 6 digits before any compare/rank, so oracle results are
  * bit-stable.
  *
  * Shared helpers (also called by [[VectorIndex]], [[TextIndex]] and
  * [[TextQueries]]): [[emb]] and [[dot]] build the vectors,
  * [[querySide]] the broadcast `(qid, qv, qnrm)` side, [[cosine]] the
  * round-6 score, [[rankCentroids]] the in-row IVF centroid ranking,
  * and [[topKPer]] every per-key ranked tail (`row_number` over the
  * key, tie-break last, `rank <= k`).
  */
object SimilarityQueries {
  import RelationalQueries.Q

  private[analytics] def emb(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables(s, dir, "embeddings"))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", graft.functions.VectorFunctions.dot(col("v"), col("v")))

  private[analytics] def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot(a, b)

  /** Cosine of `a` and `b` from their squared norms `na` and `nb`,
    * rounded to 6 digits: the oracles' `ROUND(.. / (SQRT(..) *
    * SQRT(..)), 6)`. */
  private[analytics] def cosine(a: Column, b: Column, na: Column,
      nb: Column): Column =
    round(cosineRatio(a, b, na, nb), 6)

  /** [[cosine]] before rounding: [[qSimCoreset]] rounds it at micro-unit
    * scale instead (`ROUND(x * 1000000)` in its oracle), which a round-6
    * value times 10^6 would not always equal. */
  private def cosineRatio(a: Column, b: Column, na: Column,
      nb: Column): Column =
    dot(a, b) / (sqrt(na) * sqrt(nb))

  /** The query side of a scan in [[emb]]'s shape: `(qid, qv, qnrm)`,
    * then `extra`. */
  private[analytics] def querySide(e: DataFrame, extra: Column*): DataFrame =
    e.select(Seq(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qnrm")) ++ extra: _*)

  /** The ranked tail: `df` with a long `rank` column numbering each
    * `keys` group from 1 under `order` (its tie-break last), cut to
    * `rank <= k`. Callers select and order the result. */
  private[analytics] def topKPer(df: DataFrame, keys: Seq[Column],
      order: Seq[Column], k: Int, rank: String = "rank"): DataFrame =
    df.withColumn(rank, row_number()
        .over(Window.partitionBy(keys: _*).orderBy(order: _*)).cast("long"))
      .filter(col(rank) <= k)

  /** Exact top-5 neighbors (by cosine) for query vectors vec_id < 20. */
  val qSimTopkBrute = Q(
    "q_sim_topk_brute",
    (s, dir) => {
      val e = emb(s, dir)
      val q = querySide(e.filter(col("vec_id") < 20))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos_sim"))
      topKPer(scored, Seq(col("qid")),
          Seq(col("cos_sim").desc, col("neighbor_id")), 5)
        .select(col("qid"), col("rank"), col("neighbor_id"), col("cos_sim"))
        .orderBy(col("qid"), col("rank"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e
            WHERE vec_id < 20),
      scored AS (
        SELECT q.qid, e.vec_id AS neighbor_id,
               ROUND(list_sum(list_transform(generate_series(1, len(q.qv)),
                       i -> q.qv[i] * e.v[i]))
                     / (SQRT(q.qnrm) * SQRT(e.nrm)), 6) AS cos_sim
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
      ranked AS (
        SELECT qid, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored)
      SELECT qid, rank, neighbor_id, cos_sim FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank"""))

  /** Sign-LSH bucket id: [[graft.functions.LshSignature]] (native,
    * O(1) plan footprint — the HOF formulation's O(bits×dim) tree made
    * Catalyst planning explode once self-joined). */
  private[analytics] def lshBucket(v: Column, bitsN: Int): Column =
    graft.functions.VectorFunctions.lshSignature(v, bitsN)

  /** DuckDB mirror of [[graft.functions.LshSignature]]: CTEs `planes`
    * (per-bit weight lists, md5-derived exactly like
    * `LshSignature.hyperplane`) and `sigs` (per-vector signature with
    * bit j at position bits-1-j) over a CTE `e(vec_id, v, nrm)`.
    * `dim` must match the corpus's embedding dimension; vectors of any
    * OTHER length are excluded by the `len(e.v) = dim` guard, so a dim
    * mismatch surfaces as missing oracle rows (a loud rows_match
    * failure) instead of silently all-zero signatures from
    * out-of-range list indexing.
    *
    * Cross-engine assumption (holds today, worth naming): both engines
    * accumulate the projection as sequential ascending-index double
    * adds (Scala loop / DuckDB list_sum over list_transform). A
    * projection within ~1e-12 of zero could flip a sign bit if a
    * future DuckDB changed list_sum's accumulation order; the
    * hash-matched rounds would then fail visibly. */
  private[analytics] def lshSigsSql(bitsN: Int, dim: Int = 64): String = s"""
      ${lshPlanesSql(bitsN, dim)},
      sigs AS (
        SELECT e.vec_id,
               ${lshBitsSql(s"${bitsN - 1} - p.j")} AS sig
        FROM e CROSS JOIN planes p
        WHERE len(e.v) = $dim
        GROUP BY e.vec_id)"""

  /** Multi-long variant of [[lshSigsSql]] mirroring
    * [[graft.functions.LshBandArray]]: instead of one packed `sigs`
    * long, emits a `bands(vec_id, band_idx, band_val)` CTE directly —
    * band i covers planes j ∈ [i·r, (i+1)·r), with plane j at bit
    * position r − 1 − (j mod r) (the expression's ascending-j
    * shift-accumulate). Reads (b, r) from a prior `geo(b, r)` CTE, so
    * the geometry derives in-SQL from the corpus exactly like the
    * engine side; planes are generated up to `maxPlanes` and the
    * b·r ≤ maxPlanes prefix is used. Same md5-derived weights and
    * `len(e.v) = dim` guard semantics as [[lshSigsSql]]. */
  private[analytics] def lshBandsSqlUpTo(maxPlanes: Int, dim: Int = 64): String = s"""
      ${lshPlanesSql(maxPlanes, dim)},
      bands AS (
        SELECT e.vec_id,
               CAST(p.j // (SELECT r FROM geo) AS INTEGER) AS band_idx,
               ${lshBitsSql("(SELECT r FROM geo) - 1 - (p.j % (SELECT r FROM geo))")} AS band_val
        FROM e CROSS JOIN planes p
        WHERE p.j < (SELECT b FROM geo) * (SELECT r FROM geo)
          AND len(e.v) = $dim
        GROUP BY e.vec_id, p.j // (SELECT r FROM geo))"""

  /** The `planes` CTE of the LSH oracles: planes 0..n-1, each a list of
    * `dim` weights in [-1, 1] read from the first six hex digits of
    * md5("j|d"), as `LshSignature.hyperplane` derives them. */
  private def lshPlanesSql(n: Int, dim: Int): String = {
    val hx = "instr('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || '|' || CAST(d AS VARCHAR)), %d, 1)) - 1"
    val digits = (1 to 6).map(p => s"(${hx.format(p)}) * ${1 << (4 * (6 - p))}")
      .mkString("(", " + ", ")")
    s"""planes AS (
        SELECT j, LIST(w ORDER BY d) AS wv FROM (
          SELECT j, d,
                 ($digits % 2000001 - 1000000) / 1000000.0 AS w
          FROM generate_series(0, ${n - 1}) tj(j)
          CROSS JOIN generate_series(0, ${dim - 1}) td(d))
        GROUP BY j)"""
  }

  /** Packs the sign bits of `e.v` projected on planes `p` into a BIGINT,
    * plane p.j's bit at position `pos`. */
  private def lshBitsSql(pos: String): String =
    s"""CAST(SUM(CASE WHEN list_sum(list_transform(
                        generate_series(1, len(e.v)),
                        i -> e.v[i] * p.wv[i])) > 0
                    THEN (CAST(1 AS BIGINT) << ($pos))
                    ELSE 0 END) AS BIGINT)"""

  /** ANN top-5 via sign-LSH banding: the 16-bit signature splits into
    * 4 bands of 4 bits; a corpus vector is a candidate when ANY band
    * matches the query's (classic OR-of-ANDs LSH amplification — on
    * this corpus it scores ~23% of vectors instead of all of them,
    * and tighter data clusters only improve both numbers). With a
    * large query set the same bands become an equi-join key
    * (explode bands → join on (band_idx, band_val)); with 20 broadcast
    * queries the OR-predicate form is cheaper. Hash-matched against a
    * DuckDB oracle that rebuilds the md5-derived hyperplanes; recall +
    * pruning additionally spec-asserted against brute force. */
  val qSimLshTopk = Q(
    "q_sim_lsh_topk",
    (s, dir) => {
      val e = emb(s, dir).withColumn("sig", lshBucket(col("v"), 16))
      val bandCols = (0 until 4).map(i =>
        expr(s"shiftright(sig, ${i * 4}) & 15").as(s"band_$i"))
      val eb = e.select(e.columns.toIndexedSeq.map(col) ++ bandCols: _*)
      val q = querySide(eb.filter(col("vec_id") < 20),
        (0 until 4).map(i => col(s"band_$i").as(s"q_band_$i")): _*)
      val anyBand = (0 until 4)
        .map(i => col(s"band_$i") === col(s"q_band_$i"))
        .reduce(_ || _)
      val cands = eb.join(broadcast(q),
          col("vec_id") =!= col("qid") && anyBand)
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos_sim"))
      topKPer(cands, Seq(col("qid")),
          Seq(col("cos_sim").desc, col("neighbor_id")), 5)
        .select(col("qid"), col("rank"), col("neighbor_id"), col("cos_sim"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings),${lshSigsSql(16)},
      eb AS (
        SELECT e.vec_id, e.v, e.nrm,
               (s.sig >> 0) & 15 AS b0, (s.sig >> 4) & 15 AS b1,
               (s.sig >> 8) & 15 AS b2, (s.sig >> 12) & 15 AS b3
        FROM e JOIN sigs s USING (vec_id)),
      q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm,
                   b0 AS qb0, b1 AS qb1, b2 AS qb2, b3 AS qb3
            FROM eb WHERE vec_id < 20),
      cands AS (
        SELECT q.qid, eb.vec_id AS neighbor_id,
               ROUND(list_sum(list_transform(generate_series(1, len(q.qv)),
                       i -> q.qv[i] * eb.v[i]))
                     / (SQRT(q.qnrm) * SQRT(eb.nrm)), 6) AS cos_sim
        FROM eb JOIN q ON eb.vec_id <> q.qid
         AND (eb.b0 = q.qb0 OR eb.b1 = q.qb1 OR
              eb.b2 = q.qb2 OR eb.b3 = q.qb3)),
      ranked AS (
        SELECT qid, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM cands)
      SELECT qid, rank, neighbor_id, cos_sim FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank"""))

  /** ANN top-5 via an IVF (inverted-file) index — the other classic
    * ANN architecture next to LSH, and the one that wins when the
    * corpus clusters: coarse-quantize every vector to its nearest
    * centroid (the inverted lists), then probe only the query's
    * `nprobe` nearest lists.
    *
    * Deterministic + oracle-able by construction: the 16 coarse
    * centroids are the corpus vectors with the smallest
    * md5(vec_id) — a reproducible pseudo-random sample both engines
    * can select — and assignment ranks cosine DESC, centroid id ASC
    * after the usual round-to-6, so list membership is identical
    * cross-engine (no iterative k-means, whose float drift would
    * break the differential gate).
    *
    * Scale shape: assignment is one narrow pass over the corpus —
    * all 16 centroids ride in ONE broadcast row as an array, each
    * vector scores them in-row and sorts the 16-element array, so the
    * per-vector argmax/top-nprobe never shuffles (round 3 ranked a
    * corpus×16 relation through a row_number window — the plan's only
    * avoidable corpus-scale shuffle, now gone and PlanAuditSpec-
    * guarded). The probe is an equi-join on centroid id — at 100 TB
    * the inverted lists are the shuffle key and the quadratic pair
    * space never materializes. nprobe=4 of 16 lists scores ~1/4 of
    * the corpus per query. */
  /** Coarse quantization against k (default 16) deterministic
    * md5-sample centroids, kept NARROW: all k centroids ride in ONE
    * broadcast row as an array, each vector scores them in-row and
    * sorts the k-element array — the per-vector argmax/top-nprobe
    * never shuffles. At scale pick k ≈ n / targetClusterSize so
    * cluster sizes stay ~constant as the corpus grows (the in-row
    * scoring stays narrow until k reaches broadcast limits, ~10⁵). Adds `ranked16` (ascending by (ccos, -cid, cid): last
    * element = assignment, tail = probe list; `-cid` makes equal-ccos
    * ties resolve to the SMALLER cid at the ascending tail, matching
    * `ORDER BY ccos DESC, cid`; ascending native interpreted ordering
    * = the same Double.compare a window sort would use, so -0.0/0.0
    * edges rank identically). Shared by [[qSimIvfTopk]] and
    * [[DedupQueries.qDedupSemantic]]. */
  private[analytics] def ivfRanked(e: DataFrame, k: Int = 16): DataFrame = {
    val cents = e
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cnrm"))
    val centArr = cents.agg(
      collect_list(struct(col("cid"), col("cv"), col("cnrm"))).as("cs"))
    e.crossJoin(broadcast(centArr))
      .withColumn("ranked16", rankCentroids(col("cs")))
      .drop("cs")
  }

  /** The row's `v`/`nrm` scored against every centroid of `cents`
    * (array<struct<cid, cv, cnrm>>) and sorted ascending by
    * (ccos, -cid, cid): see [[ivfRanked]] for why that order puts the
    * assignment last. Shared with [[VectorIndex]]'s stored centroids. */
  private[analytics] def rankCentroids(cents: Column): Column =
    array_sort(transform(cents, c =>
      struct(
        cosine(col("v"), c.getField("cv"), col("nrm"), c.getField("cnrm"))
          .as("ccos"),
        (-c.getField("cid")).as("tie"),
        c.getField("cid").as("cid"))))

  /** DuckDB mirror of [[ivfRanked]]'s centroid selection + assignment:
    * CTEs `cents`, `scored`, `ranked` (crank 1 = assignment) over a
    * CTE `e(vec_id, v, nrm)`. */
  private[analytics] val ivfRankedSql: String = """
      cents AS (
        SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      scored AS (
        SELECT e.vec_id, c.cid,
               ROUND(list_sum(list_transform(generate_series(1, len(e.v)),
                       i -> e.v[i] * c.cv[i]))
                     / (SQRT(e.nrm) * SQRT(c.cnrm)), 6) AS ccos
        FROM e CROSS JOIN cents c),
      ranked AS (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cid) AS crank
        FROM scored)"""

  /** IVF coarse assignment + probe lists from [[ivfRanked]]:
    * (vec_id, best_cid, probe4) — tail-indexed via size() so a corpus
    * smaller than the centroid sample count still ranks correctly.
    * Shared by [[qSimIvfTopk]] and [[qSimIvfPqTopk]]. */
  private def ivfAssignments(e: DataFrame): DataFrame =
    ivfRanked(e)
      .select(col("vec_id"),
        element_at(col("ranked16"), size(col("ranked16")))
          .getField("cid").as("best_cid"),
        slice(col("ranked16"),
          greatest(size(col("ranked16")) - 3, lit(1)), lit(4))
          .as("probe4"))

  val qSimIvfTopk = Q(
    "q_sim_ivf_topk",
    (s, dir) => {
      val e = emb(s, dir)
      val top = ivfAssignments(e)
      val assigned = top.select(col("vec_id"), col("best_cid").as("cid"))
      val probes = top.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"),
          explode(transform(col("probe4"), p => p.getField("cid")))
            .as("cid"))
      val cand = probes.join(assigned, "cid")
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("neighbor_id"))
        .distinct()
      val scoredCand = cand
        .join(querySide(e), "qid")
        .join(e.select(col("vec_id").as("neighbor_id"), col("v"),
          col("nrm")), "neighbor_id")
        .select(col("qid"), col("neighbor_id"),
          cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos_sim"))
      topKPer(scoredCand, Seq(col("qid")),
          Seq(col("cos_sim").desc, col("neighbor_id")), 5)
        .select(col("qid"), col("rank"), col("neighbor_id"), col("cos_sim"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings),$ivfRankedSql,
      assigned AS (SELECT vec_id, cid FROM ranked WHERE crank = 1),
      probes AS (SELECT vec_id AS qid, cid FROM ranked
                 WHERE vec_id < 20 AND crank <= 4),
      cand AS (
        SELECT DISTINCT p.qid, a.vec_id AS neighbor_id
        FROM probes p JOIN assigned a ON a.cid = p.cid
        WHERE a.vec_id <> p.qid),
      sc AS (
        SELECT c.qid, c.neighbor_id,
               ROUND(list_sum(list_transform(generate_series(1, len(q.v)),
                       i -> q.v[i] * n.v[i]))
                     / (SQRT(q.nrm) * SQRT(n.nrm)), 6) AS cos_sim
        FROM cand c
        JOIN e q ON q.vec_id = c.qid
        JOIN e n ON n.vec_id = c.neighbor_id),
      rk AS (
        SELECT qid, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM sc)
      SELECT qid, rank, neighbor_id, cos_sim FROM rk
      WHERE rank <= 5 ORDER BY qid, rank"""))

  /** ANN top-5 via product quantization (PQ) with asymmetric distance
    * computation — the third classic ANN architecture next to LSH and
    * IVF, and the one that makes 100 TB of embeddings FIT: the 64-dim
    * float vector (256 B) compresses to 32 six-bit codes (one per
    * 2-dim subspace, each quantized to its nearest of 64
    * sub-centroids), a ~10× memory reduction, and queries rank the
    * whole corpus from codes + a per-query 32×64 lookup table without
    * touching a single original vector (Jégou et al.'s IVFADC minus
    * the IVF stage, which [[qSimIvfTopk]] already covers — composing
    * the two is the production layout). The (M=32, K=64) split is the
    * measured sweet spot on this corpus: recall@5 = 0.70 vs 0.10 for
    * the classic (M=8, K=16) at identical encode cost — low-dim
    * subspaces quantize far better from a sampled codebook.
    *
    * Deterministic + oracle-able by construction, like IVF: the
    * codebook derives from the 64 smallest-md5(vec_id) sample
    * vectors (subspace m's centroids are their m-th 2-dim slices),
    * sorted by cid so a code is a POSITION (1..64) into the same list
    * in both engines. No iterative k-means — float drift would break
    * the differential gate.
    *
    * Metric consistency with the sibling ANN queries: vectors are
    * L2-NORMALIZED before quantization, so squared L2 becomes
    * 2 − 2·cosine — monotone in the cosine the brute-force baseline
    * ranks by (unnormalized L2-PQ would answer a different nearest-
    * neighbor question entirely; normalize-then-PQ is the standard
    * cosine-metric recipe).
    *
    * Cross-engine parity: every subspace distance is rounded once to
    * integer MICRO-units (`round(d2 * 1e6)` as long), so the ADC sum
    * of 32 terms is exact integer arithmetic — order-independent in
    * DuckDB's unordered SUM and Spark's sequential `aggregate` alike
    * (the float-sum ordering trap the decimal-NLL query dodges the
    * same way); argmin ties break to the smaller position. Encoding
    * ranks a 64-element in-row array (the [[ivfRanked]] shape — no
    * corpus shuffle); scoring joins the 20 broadcast query LUTs
    * against the codes, so the only corpus-wide state in flight is
    * 32 codes per vector. At production scale codes are computed once
    * at ingest and STORED (that is the point of PQ); the bench derives
    * them inline so the query is self-contained. */
  val qSimPqTopk = Q(
    "q_sim_pq_topk",
    (s, dir) => {
      val e = emb(s, dir)
        .withColumn("v", expr("transform(v, x -> x / sqrt(nrm))"))
      val cents = e
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(64)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      // codebook as a cid-sorted plain array<array<double>>: position
      // IS the code, in both the native encoder and the SQL LUT
      val centArr = cents.agg(expr(
        "transform(array_sort(collect_list(struct(cid, cv))), c -> c.cv)")
        .as("cs"))
      val withCs = e.crossJoin(broadcast(centArr))
      // micro-unit subspace L2² between v's m-th slice and codebook
      // position k's slice (LUT build; the corpus-side encode runs the
      // same arithmetic in the native PqCodes loop)
      def d2m(m: String, k: String) =
        s"""cast(round(aggregate(zip_with(
              slice(v, $m * 2 + 1, 2),
              slice(element_at(cs, $k), $m * 2 + 1, 2),
              (a, b) -> (a - b) * (a - b)),
            cast(0 as double), (acc, x) -> acc + x) * 1000000) as bigint)"""
      val coded = withCs.withColumn("codes",
          graft.functions.VectorFunctions.pqCodes(col("v"), col("cs"), 2))
        .select(col("vec_id"), col("codes"))
      val qlut = withCs.filter(col("vec_id") < 20)
        .withColumn("lut", expr(
          s"""transform(sequence(0, 31), m ->
                transform(sequence(1, 64), k -> ${d2m("m", "k")}))"""))
        .select(col("vec_id").as("qid"), col("lut"))
      val scored = coded.join(broadcast(qlut), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          graft.functions.VectorFunctions.adcScore(col("codes"), col("lut"))
            .as("adc_micro"))
      topKPer(scored, Seq(col("qid")),
          Seq(col("adc_micro"), col("neighbor_id")), 5)
        .select(col("qid"), col("rank"), col("neighbor_id"),
          (col("adc_micro") / lit(1000000.0)).as("approx_l2"))
        .orderBy(col("qid"), col("rank"))
    },
    Some("""
      WITH e0 AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings),
      e AS (
        SELECT vec_id, list_transform(v, x -> x / sqrt(nrm)) AS v
        FROM e0),
      cents AS (
        SELECT vec_id AS cid, v AS cv FROM e
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
      ck AS (SELECT cid, cv, ROW_NUMBER() OVER (ORDER BY cid) AS k
             FROM cents),
      d AS (
        SELECT e.vec_id, tm.m, ck.k,
               CAST(ROUND(list_sum(list_transform(generate_series(1, 2),
                 i -> (e.v[tm.m * 2 + i] - ck.cv[tm.m * 2 + i])
                    * (e.v[tm.m * 2 + i] - ck.cv[tm.m * 2 + i])))
                 * 1000000) AS BIGINT) AS d2m
        FROM e CROSS JOIN generate_series(0, 31) tm(m) CROSS JOIN ck),
      codes AS (
        SELECT vec_id, m, k FROM (
          SELECT vec_id, m, k,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                    ORDER BY d2m, k) AS r
          FROM d) WHERE r = 1),
      adc AS (
        SELECT dq.vec_id AS qid, c.vec_id AS neighbor_id,
               CAST(SUM(dq.d2m) AS BIGINT) AS adc_micro
        FROM codes c JOIN d dq ON dq.m = c.m AND dq.k = c.k
        WHERE dq.vec_id < 20 AND c.vec_id <> dq.vec_id
        GROUP BY 1, 2),
      rk AS (
        SELECT qid, neighbor_id, adc_micro,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc_micro, neighbor_id) AS rank
        FROM adc)
      SELECT qid, rank, neighbor_id, adc_micro / 1000000.0 AS approx_l2
      FROM rk WHERE rank <= 5 ORDER BY qid, rank"""))

  /** IVFADC — the production ANN layout ([[qSimPqTopk]]'s scaladoc
    * promise made real): IVF coarse quantization prunes the candidate
    * space to the query's `nprobe` inverted lists, then PQ asymmetric
    * distance ranks ONLY those candidates from stored codes — the
    * Jégou et al. composition that serves billion-vector corpora from
    * RAM. Versus [[qSimPqTopk]] (which ADC-ranks the whole corpus)
    * the scored set shrinks to ~nprobe/k of the corpus; versus
    * [[qSimIvfTopk]] (which scores candidates against ORIGINAL
    * vectors) the per-candidate cost drops from a 64-dim float scan
    * to 32 table lookups and the candidate state in flight from 256 B
    * to 32 codes.
    *
    * Both stages reuse the proven deterministic pieces unchanged:
    * [[ivfAssignments]] (cosine coarse assignment, 16 md5-sampled
    * centroids, in-row argmax) and the PQ codebook/encode/LUT
    * machinery (normalized vectors, 64-entry codebook, micro-unit
    * integer distances, native [[graft.functions.PqCodes]] encode).
    * Non-residual PQ: codes quantize the vector itself, not the
    * IVF residual — residual coding would couple the two codebooks
    * and break the stage-by-stage oracle mirror; the recall cost on a
    * normalized corpus is modest and the composition shape is
    * identical. */
  /** Shared DuckDB mirror of the IVFADC composition up through the
    * `adc` CTE (per-candidate approximate distances, un-ranked) —
    * the common prefix of [[ivfPqOracleSql]] (rank → top-5, nprobe=4)
    * and [[ivfPqRerankOracleSql]] (wider probe → top-R → exact
    * re-score → top-5). */
  private def ivfPqAdcSql(nprobe: Int): String = s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings),${ivfRankedSql},
      assigned AS (SELECT vec_id, cid FROM ranked WHERE crank = 1),
      probes AS (SELECT vec_id AS qid, cid FROM ranked
                 WHERE vec_id < 20 AND crank <= $nprobe),
      cand AS (
        SELECT DISTINCT p.qid, a.vec_id AS neighbor_id
        FROM probes p JOIN assigned a ON a.cid = p.cid
        WHERE a.vec_id <> p.qid),
      en AS (
        SELECT vec_id, list_transform(v, x -> x / sqrt(nrm)) AS v
        FROM e),
      pcents AS (
        SELECT vec_id AS cid, v AS cv FROM en
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
      pck AS (SELECT cid, cv, ROW_NUMBER() OVER (ORDER BY cid) AS k
              FROM pcents),
      pd AS (
        SELECT en.vec_id, tm.m, pck.k,
               CAST(ROUND(list_sum(list_transform(generate_series(1, 2),
                 i -> (en.v[tm.m * 2 + i] - pck.cv[tm.m * 2 + i])
                    * (en.v[tm.m * 2 + i] - pck.cv[tm.m * 2 + i])))
                 * 1000000) AS BIGINT) AS d2m
        FROM en CROSS JOIN generate_series(0, 31) tm(m) CROSS JOIN pck),
      pcodes AS (
        SELECT vec_id, m, k FROM (
          SELECT vec_id, m, k,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                    ORDER BY d2m, k) AS r
          FROM pd) WHERE r = 1),
      adc AS (
        SELECT c.qid, c.neighbor_id,
               CAST(SUM(dq.d2m) AS BIGINT) AS adc_micro
        FROM cand c
        JOIN pcodes cd ON cd.vec_id = c.neighbor_id
        JOIN pd dq ON dq.vec_id = c.qid AND dq.m = cd.m AND dq.k = cd.k
        GROUP BY 1, 2)"""

  /** The full IVFADC mirror — referenced by [[qSimIvfPqTopk]] (inline
    * derivation), [[qSimIvfPqStored]] ([[VectorIndex]] ingest-then-
    * search) and [[qSimIvfPqAdmitted]]: all must produce IDENTICAL
    * rows, so one oracle gates all three and the stored index is
    * proven lossless. */
  private lazy val ivfPqOracleSql: String = s"""${ivfPqAdcSql(4)},
      rk AS (
        SELECT qid, neighbor_id, adc_micro,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc_micro, neighbor_id) AS rank
        FROM adc)
      SELECT qid, rank, neighbor_id, adc_micro / 1000000.0 AS approx_l2
      FROM rk WHERE rank <= 5 ORDER BY qid, rank"""

  /** DuckDB mirror of [[VectorIndex.rerank]]: the same `adc` CTE at
    * the recall-oriented probe width (nprobe=14, see
    * [[qSimIvfPqRerank]]) ranked to top-50 candidates per query, then
    * EXACT cosine from the original vectors (the [[qSimTopkBrute]]
    * arithmetic verbatim) over only those candidates, re-ranked to
    * top-5. */
  private lazy val ivfPqRerankOracleSql: String = s"""${ivfPqAdcSql(14)},
      ar AS (
        SELECT qid, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc_micro, neighbor_id) AS arank
        FROM adc),
      topr AS (SELECT qid, neighbor_id FROM ar WHERE arank <= 50),
      ex AS (
        SELECT t.qid, t.neighbor_id,
               ROUND(list_sum(list_transform(generate_series(1, len(q.v)),
                       i -> q.v[i] * n.v[i]))
                     / (SQRT(q.nrm) * SQRT(n.nrm)), 6) AS cos_sim
        FROM topr t
        JOIN e q ON q.vec_id = t.qid
        JOIN e n ON n.vec_id = t.neighbor_id),
      rk AS (
        SELECT qid, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM ex)
      SELECT qid, rank, neighbor_id, cos_sim FROM rk
      WHERE rank <= 5 ORDER BY qid, rank"""

  val qSimIvfPqTopk = Q(
    "q_sim_ivfpq_topk",
    (s, dir) => {
      val e0 = emb(s, dir)
      // coarse: IVF assignment + per-query probe lists (nprobe = 4)
      val top = ivfAssignments(e0)
      val assigned = top.select(col("vec_id"), col("best_cid").as("cid"))
      val probes = top.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"),
          explode(transform(col("probe4"), p => p.getField("cid")))
            .as("cid"))
      val cand = probes.join(assigned, "cid")
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("neighbor_id"))
        .distinct()
      // fine: PQ codes + query LUTs over the normalized vectors
      val en = e0.select(col("vec_id"),
        expr("transform(v, x -> x / sqrt(nrm))").as("v"))
      val cents = en
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(64)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val centArr = cents.agg(expr(
        "transform(array_sort(collect_list(struct(cid, cv))), c -> c.cv)")
        .as("cs"))
      val withCs = en.crossJoin(broadcast(centArr))
      val coded = withCs
        .withColumn("codes",
          graft.functions.VectorFunctions.pqCodes(col("v"), col("cs"), 2))
        .select(col("vec_id").as("neighbor_id"), col("codes"))
      def d2m(m: String, k: String) =
        s"""cast(round(aggregate(zip_with(
              slice(v, $m * 2 + 1, 2),
              slice(element_at(cs, $k), $m * 2 + 1, 2),
              (a, b) -> (a - b) * (a - b)),
            cast(0 as double), (acc, x) -> acc + x) * 1000000) as bigint)"""
      val qlut = withCs.filter(col("vec_id") < 20)
        .withColumn("lut", expr(
          s"""transform(sequence(0, 31), m ->
                transform(sequence(1, 64), k -> ${d2m("m", "k")}))"""))
        .select(col("vec_id").as("qid"), col("lut"))
      // ADC over candidates only: codes ride the equi-join, LUTs
      // broadcast — per-candidate work is 32 integer lookups
      val scored = cand.join(coded, "neighbor_id")
        .join(broadcast(qlut), "qid")
        .select(col("qid"), col("neighbor_id"),
          graft.functions.VectorFunctions.adcScore(col("codes"), col("lut"))
            .as("adc_micro"))
      topKPer(scored, Seq(col("qid")),
          Seq(col("adc_micro"), col("neighbor_id")), 5)
        .select(col("qid"), col("rank"), col("neighbor_id"),
          (col("adc_micro") / lit(1000000.0)).as("approx_l2"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(ivfPqOracleSql))

  /** The stored-index twin of [[qSimIvfPqTopk]]: [[VectorIndex]]
    * ingest (centroids + codebook + codes persisted as catalog
    * tables) then search against the STORE — sharing the inline
    * query's oracle VERBATIM, so the hash-match proves the persisted
    * index searches identically to an engine that derives everything
    * inline. The self-contained registered query pays the ingest; a
    * production pipeline pays it once and serves every search from
    * the tables ([[SignatureStore]]'s economics, for ANN). */
  /** The ingest phase of [[qSimIvfPqStored]] — exposed separately so
    * Bench can time the one-off index build apart from the per-query
    * search, the number a serving pipeline pays per request. */
  def storedIngest(s: SparkSession, dir: String,
      store: String = "graft_vecindex"): Unit =
    VectorIndex.ingest(emb(s, dir), store)

  /** The search phase of [[qSimIvfPqStored]] against a built index. */
  def storedSearch(s: SparkSession, dir: String,
      store: String = "graft_vecindex"): DataFrame =
    VectorIndex.search(s, store, emb(s, dir).filter(col("vec_id") < 20))

  /** The two-tier query phase of [[qSimIvfPqRerank]] against a built
    * index — exposed so Bench can price the per-request production
    * operation (candidate generation + exact re-score) apart from the
    * one-off ingest the registered query carries. */
  def storedRerank(s: SparkSession, dir: String,
      store: String = "graft_vecindex_rr"): DataFrame = {
    val e = emb(s, dir)
    VectorIndex.rerank(s, store, e.filter(col("vec_id") < 20), e,
      nprobe = 14)
  }

  val qSimIvfPqStored = Q(
    "q_sim_ivfpq_stored",
    (s, dir) => {
      storedIngest(s, dir)
      storedSearch(s, dir)
    },
    Some(ivfPqOracleSql))

  /** The append path of the stored index under the SAME oracle: build
    * the index over the corpus MINUS a held-out batch, [[VectorIndex
    * .admit]] the batch under the frozen geometry, and search — sharing
    * [[qSimIvfPqTopk]]'s oracle VERBATIM, so the hash-match proves the
    * append is LOSSLESS: a store grown by admits searches identically
    * to one ingested whole (the daily-embedding-ingest economics, now
    * differentially gated rather than only spec-asserted).
    *
    * Why the held-out batch is the md5-order TAIL: ingest samples
    * centroids (top-16) and codebook (top-64) by ascending
    * md5(vec_id); holding out the DESCENDING-order tail (50 of ≥500
    * ids) provably leaves both samples untouched, so corpus-only
    * ingest freezes exactly the geometry a full ingest would — the
    * equal-geometry premise under which admit claims identity, here
    * made deterministic enough for a cross-engine oracle. */
  val qSimIvfPqAdmitted = Q(
    "q_sim_ivfpq_admitted",
    (s, dir) => {
      val e = emb(s, dir)
      val store = "graft_vecindex_adm"
      val batchIds = e
        .orderBy(md5(col("vec_id").cast("string")).desc, col("vec_id").desc)
        .limit(50).select(col("vec_id"))
      VectorIndex.ingest(e.join(batchIds, Seq("vec_id"), "left_anti"), store)
      VectorIndex.admit(s, store, e.join(batchIds, Seq("vec_id"), "left_semi"))
      VectorIndex.search(s, store, e.filter(col("vec_id") < 20))
    },
    Some(ivfPqOracleSql))

  /** Two-tier retrieval over the stored index ([[VectorIndex
    * .rerank]]): IVFADC top-50 candidate generation from codes, exact
    * cosine re-score of only those candidates against the original
    * embeddings — the production answer to compressed-domain recall
    * loss. Both tiers are deterministic, so the COMPOSITION is
    * differentially gated: the oracle re-derives candidate generation
    * AND exact re-scoring from scratch in DuckDB. Self-contained like
    * its stored siblings (pays its own ingest under the gate).
    *
    * Operating point: nprobe=14 of 16 lists, the recall tier's knob.
    * The spec-measured decomposition (AnalyticsSpec) shows the
    * fixture's 0.47 unreranked recall@5 splits into TWO losses: code
    * quantization (recoverable — rerank closes it completely, spec-
    * asserted rerank@4 ≡ exact-scored-candidates@4 = 0.50) and IVF
    * pruning (unrecoverable per probe set — a neighbor outside the
    * probed lists can never re-enter). On 500 random-geometry vectors
    * the 16 cells are ~31 vectors each with little cluster structure,
    * so the ≥0.9 recall target needs most lists probed (14 → 0.96);
    * at production scale (thousands of lists over billions of
    * clustered vectors) the same target is met at nprobe/k ≪ 1 —
    * widening nprobe is cheap HERE because the re-score cost stays
    * fixed at r=50 exact distances per query regardless. */
  val qSimIvfPqRerank = Q(
    "q_sim_ivfpq_rerank",
    (s, dir) => {
      storedIngest(s, dir, "graft_vecindex_rr")
      storedRerank(s, dir)
    },
    Some(ivfPqRerankOracleSql))

  /** ANN top-5 via int8 scalar quantization (SQ8) — the fourth
    * compression point on the ANN spectrum (brute float32 → SQ8 → PQ
    * → IVFADC): each normalized component quantizes independently to
    * `round(127·x)` ∈ [-127, 127], a 4× memory cut that preserves
    * ranking far better than PQ (quantization error per DIMENSION,
    * not per 2-dim cell), and the similarity becomes an INTEGER dot
    * product — exact in both engines by construction, so unlike every
    * float-scored sibling there is no rounding discipline to manage
    * at all. The production trade faiss documents: SQ8 when memory
    * allows 64 B/vector, PQ/IVFADC when it doesn't.
    *
    * Parity note: `round` here is SCALE-0, which is safe — the .5
    * boundary values are exactly binary-representable, so Spark's
    * shortest-decimal HALF_UP and DuckDB's round-half-away agree on
    * every double (the one-ulp divergence the data-card query hit is
    * specific to scale-k rounding, whose boundary decimals are NOT
    * representable). Quantized components are carried as int-valued
    * doubles so the codegen [[graft.functions.DotProduct]] scores
    * pairs (products ≤ 127², sums ≤ 64·127² — exact in double);
    * production stores them as 1-byte ints, which is the point. */
  val qSimSqTopk = Q(
    "q_sim_sq_topk",
    (s, dir) => {
      val e = emb(s, dir)
        .select(col("vec_id"),
          expr("transform(v, x -> cast(round(127 * x / sqrt(nrm)) as double))")
            .as("q8"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("q8").as("qq8"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          dot(col("qq8"), col("q8")).cast("long").as("score"))
      topKPer(scored, Seq(col("qid")),
          Seq(col("score").desc, col("neighbor_id")), 5)
        .select(col("qid"), col("rank"), col("neighbor_id"), col("score"))
        .orderBy(col("qid"), col("rank"))
    },
    Some("""
      WITH e0 AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings),
      e AS (
        SELECT vec_id,
               list_transform(v, x -> ROUND(127 * x / sqrt(nrm))) AS q8
        FROM e0),
      q AS (SELECT vec_id AS qid, q8 AS qq8 FROM e WHERE vec_id < 20),
      scored AS (
        SELECT q.qid, e.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, len(q.qq8)),
                      i -> q.qq8[i] * e.q8[i])) AS BIGINT) AS score
        FROM e JOIN q ON e.vec_id <> q.qid),
      rk AS (
        SELECT qid, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored)
      SELECT qid, rank, neighbor_id, score FROM rk
      WHERE rank <= 5 ORDER BY qid, rank"""))

  /** Distributed k-means (Lloyd, k=8, two update iterations + final
    * assignment) over the embeddings — the TRAINED coarse quantizer
    * the md5-sampled IVF centroids deliberately are not (sampling is
    * oracle-friendly but ignores data geometry; training moves
    * centroids to density). The engine-parity problem with iterative
    * float means — accumulation order changes the bits, compounding
    * per iteration — is solved by ALL-INTEGER geometry: vectors
    * quantize once to micro-units (round(x·10⁶) as bigint), distances
    * are exact integer sums, and each centroid update is one rounded
    * double division of exact integer sums per dimension. Every
    * iteration is therefore bit-reproducible in any engine, and the
    * whole training run gates by full hash-match — a differentially
    * tested distributed Lloyd.
    *
    * Scale shape: assignment is the in-row argmin against a one-row
    * broadcast centroid array (no corpus shuffle, the IVF pattern);
    * the update aggregates (cluster, dim) cells — k·64 rows out of a
    * map-side-combined groupBy — and reassembles the next broadcast
    * array. Per iteration: one narrow pass + one tiny shuffle.
    * Centroid ids stay the seed vec_ids, so an empty cluster simply
    * drops out in both engines identically. */
  /** Integer-Lloyd training shared by [[qSimKmeans]] and the trained
    * IVF search ([[qSimIvfTrained]]): micro-unit quantize once, then
    * `iters` assign/update sweeps in exact integer arithmetic (see
    * qSimKmeans's parity note). Returns (trained one-row centroid
    * frame, the persisted micro-unit corpus the caller releases, the
    * assign function for reuse). */
  /** Shared Lloyd machinery: the persisted micro-unit corpus, the
    * broadcast-argmin assign step, the (cluster, dim)-cell update
    * step, and the md5-sampled initial centroid frame. */
  private def kmeansCore(s: SparkSession, dir: String, k: Int)
      : (DataFrame, DataFrame, DataFrame => DataFrame,
         DataFrame => DataFrame) = {
    val vm0 = emb(s, dir).select(col("vec_id"),
      expr("transform(v, x -> cast(round(x * 1000000) as bigint))")
        .as("vm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bestExpr = expr(
      """array_min(transform(cents, c -> struct(
           aggregate(zip_with(vm, c.cm, (a, b) -> (a - b) * (a - b)),
                     cast(0 as bigint), (acc, x) -> acc + x) as d,
           c.cid as cid)))""")
    def assign(cents: DataFrame): DataFrame =
      vm0.crossJoin(broadcast(cents))
        .withColumn("best", bestExpr)
        .select(col("vec_id"), col("vm"),
          col("best.cid").as("cid"), col("best.d").as("d"))
    def update(assigned: DataFrame): DataFrame = assigned
      .select(col("cid"), posexplode(col("vm")))
      .groupBy(col("cid"), col("pos"))
      .agg(expr("cast(round(sum(col) * 1.0 / count(1)) as bigint)")
        .as("m"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
        .as("cm"))
      .agg(expr("array_sort(collect_list(struct(cid, cm)))").as("cents"))
    val cents0 = vm0
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("vm").as("cm"))
      .agg(expr("array_sort(collect_list(struct(cid, cm)))").as("cents"))
    (cents0, vm0, assign, update)
  }

  /** The one-row k·d centroid frame collected (bounded: k·64 BIGINTs)
    * and re-entered as a LITERAL single-row frame — the flat-lineage
    * step shared by [[kmeansTrain]] and [[kmeansTrainUntilConverged]]:
    * the collected Row re-enters exactly, so the next sweep's
    * arithmetic is bit-identical to the lazy nested chain, but each
    * sweep's plan is flat (assign against literal centroids) instead
    * of embedding every previous sweep's aggregations and broadcast
    * builds (r13: the 2-sweep chain compiled to a 165-node plan whose
    * nested exchanges each paid the fixed per-task shuffle-file cost;
    * purity/kmeans/ivf_trained/silhouette all ride this). */
  private def centsAsLiteral(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(
      java.util.Collections.singletonList(df.head()), df.schema)

  private[analytics] def kmeansTrain(s: SparkSession, dir: String, k: Int,
      iters: Int): (DataFrame, DataFrame, DataFrame => DataFrame) = {
    val (cents0, vm0, assign, update) = kmeansCore(s, dir, k)
    var cents = cents0
    // Deliberately LAZY (r13 examined, kept): flattening each sweep
    // through a collected literal frame ([[centsAsLiteral]], the
    // converged variant's pattern) was A/B'd at 5 reps — purity read
    // −0.2..−0.6 s but q_sim_kmeans paid +0.6..+0.8 s for the extra
    // action barriers, and the 4-caller sum was a wash in both the
    // per-sweep and ends-only variants. Corpus passes are identical
    // either way; fixed horizons keep the single-action chain the
    // cheaper shape for the light callers.
    for (_ <- 1 to iters) cents = update(assign(cents))
    (cents, vm0, assign)
  }

  /** Convergence-gated integer Lloyd (round-9, VERDICT item #6):
    * sweeps until the total absolute centroid movement Σ|Δcm| (exact
    * micro-units — the all-integer geometry makes "has it moved" a
    * well-defined question, no float epsilon) is ≤ `tolMicro`, capped
    * at `maxIters`. A changed CLUSTER SET (a cluster emptied out)
    * always counts as movement. After each sweep the one-row k·d
    * centroid frame is collected (bounded: k·64 BIGINTs) and
    * re-broadcast as a LITERAL frame, so every sweep's lineage is flat
    * — assign against literal centroids, one corpus pass per sweep —
    * instead of the t-deep recompute chain a lazy loop with per-sweep
    * actions would trigger. Returns (trained centroid frame, persisted
    * micro-unit corpus for the caller to release, assign fn,
    * sweepsRun). Registered queries keep fixed horizons for the
    * oracle gate. */
  def kmeansTrainUntilConverged(s: SparkSession, dir: String, k: Int,
      maxIters: Int, tolMicro: Long)
      : (DataFrame, DataFrame, DataFrame => DataFrame, Int) = {
    val (cents0, vm0, assign, update) = kmeansCore(s, dir, k)
    def collectCents(df: DataFrame): (DataFrame, Map[Long, Seq[Long]]) = {
      val litDf = centsAsLiteral(s, df)
      val row = litDf.head()
      // Row.getSeq, not getAs[Seq[...]]: Spark hands back a mutable
      // ArraySeq, which is NOT a scala.collection.immutable.Seq in 2.13
      val m = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("cents"))
        .map(c => c.getLong(0) -> c.getSeq[Long](1).toVector).toMap
      (litDf, m)
    }
    var (cur, curM) = collectCents(cents0)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      val (next, nextM) = collectCents(update(assign(cur)))
      val delta =
        if (nextM.keySet != curM.keySet) Long.MaxValue
        else nextM.iterator.map { case (cid, cm) =>
          cm.zip(curM(cid)).map { case (a, b) => math.abs(a - b) }.sum
        }.sum
      cur = next
      curM = nextM
      iters += 1
      converged = delta <= tolMicro
    }
    (cur, vm0, assign, iters)
  }

  /** Micro-unit integer L2² between `$v.vm` and `$c.cm` — the oracle
    * distance kernel, alias-parameterized for reuse. */
  private def kmDistSql(v: String, c: String) =
    s"""CAST(list_sum(list_transform(generate_series(1, len($v.vm)),
         i -> ($v.vm[i] - $c.cm[i]) * ($v.vm[i] - $c.cm[i]))) AS BIGINT)"""

  private def kmAssignSql(a: String, c: String) = s"""
        $a AS (
          SELECT vec_id, cid, d FROM (
            SELECT vec_id, cid, d,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d, cid) AS rn
            FROM (SELECT v.vec_id, c.cid, ${kmDistSql("v", "c")} AS d
                  FROM vm v CROSS JOIN $c c))
          WHERE rn = 1)"""

  private def kmUpdateSql(c: String, a: String) = s"""
        $c AS (
          SELECT cid, LIST(m ORDER BY dim) AS cm FROM (
            SELECT a.cid, t.dim,
                   CAST(ROUND(SUM(t.val) * 1.0 / COUNT(*)) AS BIGINT) AS m
            FROM $a a JOIN vm v USING (vec_id),
                 LATERAL unnest([{'dim': i, 'val': v.vm[i]}
                                 for i in generate_series(1, len(v.vm))])
                   AS u(t)
            GROUP BY a.cid, t.dim)
          GROUP BY cid)"""

  /** The 2-sweep k=8 training chain (e → vm → c0 → … → c2), shared
    * verbatim by the kmeans and trained-IVF oracles. */
  private lazy val kmTrainSqlPrefix = s"""
      e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      vm AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(ROUND(x * 1000000) AS BIGINT))
                 AS vm
        FROM e),
      c0 AS (
        SELECT vec_id AS cid, vm AS cm FROM vm
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
      ${kmAssignSql("a1", "c0")},
      ${kmUpdateSql("c1", "a1")},
      ${kmAssignSql("a2", "c1")},
      ${kmUpdateSql("c2", "a2")}"""

  val qSimKmeans = Q(
    "q_sim_kmeans",
    (s, dir) => {
      val (cents, vm0, assign) = kmeansTrain(s, dir, 8, 2)
      val result = assign(cents)
        .select(col("vec_id"), col("cid").as("cluster"),
          col("d").as("dist_micro2"))
        .orderBy(col("vec_id"))
      QueryScopedCache.releaseAfter(result, Seq(vm0))
    },
    Some(s"""
      WITH $kmTrainSqlPrefix,
      ${kmAssignSql("a3", "c2")}
      SELECT vec_id, cid AS cluster, d AS dist_micro2
      FROM a3 ORDER BY vec_id"""))

  /** IVF search over the TRAINED coarse quantizer — the integer-Lloyd
    * centroids as a usable ANN path, not just a clustering statistic:
    * queries rank the 8 trained cells in-row, probe the best 2 (the
    * same 1/4 scan fraction as the md5-sampled [[qSimIvfTopk]], where
    * the spec measured trained recall ≥ sampled), and candidates are
    * exact-scored with the SAME micro-unit integer L2 the training
    * used — so unlike every float-cosine ANN query, the whole path
    * (training, probe choice, candidate scores, final ranks) is
    * integer-exact and the DuckDB oracle reproduces it bit-for-bit,
    * collisions and tie-breaks included.
    *
    * Scale shape: training is the kmeans query's (bounded sweeps over
    * the persisted micro-unit corpus); the index assignment is one
    * narrow pass against the broadcast trained centroids; the probe
    * join broadcasts the tiny query×nprobe cell list into the
    * cid-keyed candidate scan. Nothing driver-side beyond the one-row
    * centroid array. */
  val qSimIvfTrained = Q(
    "q_sim_ivf_trained",
    (s, dir) => {
      val (cents, vm0, assign) = kmeansTrain(s, dir, 8, 2)
      val assigned = assign(cents)
      val probeExpr = expr(
        """slice(array_sort(transform(cents, c -> struct(
             aggregate(zip_with(vm, c.cm, (a, b) -> (a - b) * (a - b)),
                       cast(0 as bigint), (acc, x) -> acc + x) as d,
             c.cid as cid))), 1, 2)""")
      val probes = vm0.filter(col("vec_id") < 20)
        .crossJoin(broadcast(cents))
        .select(col("vec_id").as("qid"), col("vm").as("qvm"),
          explode(probeExpr).as("p"))
        .select(col("qid"), col("qvm"), col("p.cid").as("cid"))
      val cand = broadcast(probes)
        .join(assigned.select(col("vec_id").as("neighbor_id"),
          col("vm"), col("cid")), "cid")
        .filter(col("neighbor_id") =!= col("qid"))
        .select(col("qid"), col("neighbor_id"),
          expr("""aggregate(zip_with(qvm, vm, (a, b) -> (a - b) * (a - b)),
                  cast(0 as bigint), (acc, x) -> acc + x)""").as("d"))
      val result = topKPer(cand, Seq(col("qid")),
          Seq(col("d"), col("neighbor_id")), 5)
        .select(col("qid"), col("rank"), col("neighbor_id"),
          col("d").as("l2_micro2"))
        .orderBy(col("qid"), col("rank"))
      QueryScopedCache.releaseAfter(result, Seq(vm0))
    },
    Some(s"""
      WITH $kmTrainSqlPrefix,
      ${kmAssignSql("a3", "c2")},
      probes AS (
        SELECT qid, cid FROM (
          SELECT v.vec_id AS qid, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY ${kmDistSql("v", "c")}, c.cid) AS pr
          FROM vm v CROSS JOIN c2 c WHERE v.vec_id < 20) x
        WHERE pr <= 2),
      cand AS (
        SELECT p.qid, a.vec_id AS neighbor_id
        FROM probes p JOIN a3 a USING (cid)
        WHERE a.vec_id <> p.qid),
      exact AS (
        SELECT cd.qid, cd.neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, len(q.vm)),
                 i -> (q.vm[i] - n2.vm[i]) * (q.vm[i] - n2.vm[i])))
                 AS BIGINT) AS d
        FROM cand cd
        JOIN vm q ON q.vec_id = cd.qid
        JOIN vm n2 ON n2.vec_id = cd.neighbor_id)
      SELECT qid, rank, neighbor_id, d AS l2_micro2 FROM (
        SELECT qid, neighbor_id, d,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY d, neighbor_id) AS rank
        FROM exact) x
      WHERE rank <= 5 ORDER BY qid, rank"""))

  /** Hybrid retrieval — reciprocal-rank fusion (k=60) of a lexical
    * BM25 arm ([[TextQueries.bm25PerDoc]]) and an exact-cosine vector
    * arm over the shared doc_id == vec_id id space. Each arm ranks
    * independently and contributes 1/(60+rank) for its top-30
    * candidates; docs surfaced by both arms outrank single-arm hits —
    * the standard lexical+dense production fusion (RRF needs no score
    * calibration between arms, only ranks, which is why it ships in
    * every hybrid search stack).
    *
    * Scale shape: the arms never materialize a corpus×corpus
    * relation — the vector arm broadcasts the 8-query side and the
    * lexical arm broadcasts the 24-term table, so both are narrow
    * corpus passes feeding per-qid top-30 [[topKPer]] tails; the fusion join
    * then touches only ≤ 8×60 candidate rows. Adding a third arm
    * (e.g. [[qSimIvfPqRerank]]'s compressed index at corpus scale) is
    * the same full-outer pattern.
    *
    * Parity: ranks are integers, each arm contribution rounds
    * 1/(60+rank) to a 6dp DECIMAL once, the fused score is a decimal
    * sum cast to double — no cross-engine float drift possible. */
  val qSimHybridRrf = Q(
    "q_sim_hybrid_rrf",
    (s, dir) => {
      val e = emb(s, dir)
      val q = querySide(e.filter(col("vec_id") < 8))
      val cos = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("doc_id"),
          cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cs"))
      val vecArm = topKPer(cos, Seq(col("qid")),
          Seq(col("cs").desc, col("doc_id")), 30, "rank_vec")
        .select(col("qid"), col("doc_id"), col("rank_vec"))
      val (lexPd0, lexHandles) = TextQueries.bm25PerDoc(s, dir)
      val lexPd = lexPd0
        .filter(col("qid") < 8 && col("doc_id") =!= col("qid"))
      val lexArm = topKPer(lexPd, Seq(col("qid")),
          Seq(col("score").desc, col("doc_id")), 30, "rank_lex")
        .select(col("qid"), col("doc_id"), col("rank_lex"))
      val zero = lit(0).cast("decimal(25,6)")
      val fused = vecArm.join(lexArm, Seq("qid", "doc_id"), "full_outer")
        .select(col("qid"), col("doc_id"), col("rank_vec"), col("rank_lex"),
          (coalesce(round(lit(1.0) / (lit(60) + col("rank_vec")), 6)
              .cast("decimal(25,6)"), zero) +
            coalesce(round(lit(1.0) / (lit(60) + col("rank_lex")), 6)
              .cast("decimal(25,6)"), zero)).cast("double").as("rrf"))
      val result = topKPer(fused, Seq(col("qid")),
          Seq(col("rrf").desc, col("doc_id")), 10)
        .select(col("qid"), col("rank"), col("doc_id"),
          col("rank_vec"), col("rank_lex"), col("rrf"))
        .orderBy(col("qid"), col("rank"))
      QueryScopedCache.releaseAfter(result, lexHandles)
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e
            WHERE vec_id < 8),
      cos AS (
        SELECT q.qid, e.vec_id AS doc_id,
               ROUND(list_sum(list_transform(generate_series(1, len(q.qv)),
                       i -> q.qv[i] * e.v[i]))
                     / (SQRT(q.qnrm) * SQRT(e.nrm)), 6) AS cs
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
      vec_arm AS (
        SELECT qid, doc_id, rank_vec FROM (
          SELECT qid, doc_id, cs,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cs DESC, doc_id) AS rank_vec
          FROM cos) x
        WHERE rank_vec <= 30),
      ${TextQueries.bm25OracleCtes},
      lex_arm AS (
        SELECT qid, doc_id, rank_lex FROM (
          SELECT qid, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY score DESC, doc_id) AS rank_lex
          FROM bm_per_doc WHERE qid < 8 AND doc_id <> qid) x
        WHERE rank_lex <= 30),
      fused AS (
        SELECT COALESCE(v.qid, l.qid) AS qid,
               COALESCE(v.doc_id, l.doc_id) AS doc_id,
               v.rank_vec, l.rank_lex,
               CAST(COALESCE(CAST(ROUND(CAST(1.0 AS DOUBLE) /
                       (60 + v.rank_vec), 6) AS DECIMAL(25,6)), 0) +
                    COALESCE(CAST(ROUND(CAST(1.0 AS DOUBLE) /
                       (60 + l.rank_lex), 6) AS DECIMAL(25,6)), 0)
                 AS DOUBLE) AS rrf
        FROM vec_arm v FULL OUTER JOIN lex_arm l
          ON v.qid = l.qid AND v.doc_id = l.doc_id)
      SELECT qid, rank, doc_id, rank_vec, rank_lex, rrf FROM (
        SELECT qid, doc_id, rank_vec, rank_lex, rrf,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY rrf DESC, doc_id) AS rank
        FROM fused) x
      WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Hard-negative mining for contrastive training: for each anchor,
    * the top-5 most-cosine-similar vectors carrying a DIFFERENT label
    * — the highest-similarity wrong-class examples that make the most
    * informative negatives (easy negatives are already far away;
    * these are the ones near the decision boundary).
    *
    * Same plan skeleton as [[qSimTopkBrute]] — anchors broadcast, the
    * corpus streams through one narrow scoring stage, a tiny top-k
    * shuffle — with the label-mismatch predicate fused into the join
    * condition so same-class pairs are never scored or shuffled. At
    * 100 TB the brute stage swaps for the stored IVFADC candidates
    * (qSimIvfPqRerank) with the label filter unchanged. */
  val qSimHardNegatives = Q(
    "q_sim_hard_negatives",
    (s, dir) => {
      val e = emb(s, dir)
      val q = querySide(e.filter(col("vec_id") < 20),
        col("label").as("qlabel"))
      val scored = e.join(broadcast(q), col("label") =!= col("qlabel"))
        .select(col("qid"), col("qlabel"), col("vec_id").as("neighbor_id"),
          col("label").as("neighbor_label"),
          cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos_sim"))
      topKPer(scored, Seq(col("qid")),
          Seq(col("cos_sim").desc, col("neighbor_id")), 5)
        .select(col("qid"), col("qlabel"), col("rank"), col("neighbor_id"),
          col("neighbor_label"), col("cos_sim"))
        .orderBy(col("qid"), col("rank"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings),
      q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qnrm
            FROM e WHERE vec_id < 20),
      scored AS (
        SELECT q.qid, q.qlabel, e.vec_id AS neighbor_id,
               e.label AS neighbor_label,
               ROUND(list_sum(list_transform(generate_series(1, len(q.qv)),
                       i -> q.qv[i] * e.v[i]))
                     / (SQRT(q.qnrm) * SQRT(e.nrm)), 6) AS cos_sim
        FROM e CROSS JOIN q WHERE e.label <> q.qlabel),
      ranked AS (
        SELECT qid, qlabel, neighbor_id, neighbor_label, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored)
      SELECT qid, qlabel, rank, neighbor_id, neighbor_label, cos_sim
      FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""))

  /** Per-dimension ANOVA F-statistic of label separability in
    * embedding space: for each of the 64 dimensions, the ratio of
    * between-class to within-class variance over the 10 labels — the
    * embedding-quality diagnostic (which dimensions carry label
    * signal, is the space collapsing) and the classic filter-style
    * feature selection for a downstream probe.
    *
    * Exactness: coordinates land in integer micro-units (the corpus
    * discipline), so per-(dim,label) count/sum/sum-of-squares are
    * exact BIGINTs; the one cross-group float — Σ s_g²/n_g — uses the
    * logprob trick (each group's term rounded to 6dp then
    * DECIMAL-accumulated) so its value is independent of either
    * engine's group order; the final F combines those exact sums in
    * DOUBLE with an identical op tree.
    *
    * Scale shape: posexplode is narrow (64× fan-out); ONE exchange on
    * (dim, label) — 640 groups with map-side partial aggregation, so
    * the shuffle carries ≤ |dims|×|labels| rows per task regardless
    * of corpus size; the per-dim rollup reuses tiny frames. */
  val qSimFisher = Q(
    "q_sim_fisher",
    (s, dir) => {
      val pts = Tables.spread(Tables(s, dir, "embeddings"))
        .select(col("label"),
          posexplode(transform(col("embedding"), x => x.cast("double"))))
        .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
          expr("cast(round(col * 1000000) as bigint)").as("xm"))
      val pg = pts.groupBy(col("dim"), col("label"))
        .agg(count(lit(1)).as("ng"), sum(col("xm")).as("sg"),
          sum(expr("xm * xm")).as("ssg"))
      val pd = pg.groupBy(col("dim"))
        .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("sg")).as("stot"), sum(col("ssg")).as("sstot"),
          sum(expr("""cast(round(cast(sg as double) * cast(sg as double)
                 / cast(ng as double), 6) as decimal(25,6))""")).as("sb"))
      val nD = col("n").cast("double")
      val kD = col("k").cast("double")
      val sbD = col("sb").cast("double")
      val between = (sbD - col("stot").cast("double") *
        col("stot").cast("double") / nD) / (kD - lit(1.0))
      val within = (col("sstot").cast("double") - sbD) / (nD - kD)
      pd.select(col("dim"), col("n"), col("k"),
          round(between / within, 6).as("f_stat"))
        .orderBy(col("dim"))
    },
    Some("""
      WITH pts AS (
        SELECT label, CAST(dim AS BIGINT) AS dim,
               CAST(ROUND(x * 1000000) AS BIGINT) AS xm
        FROM (
          SELECT label, unnest(generate_series(1, len(v))) AS dim,
                 unnest(v) AS x
          FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings) e) z),
      pg AS (
        SELECT dim, label, COUNT(*) AS ng,
               CAST(SUM(xm) AS BIGINT) AS sg,
               CAST(SUM(xm * xm) AS BIGINT) AS ssg
        FROM pts GROUP BY dim, label),
      pd AS (
        SELECT dim, COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
               CAST(SUM(sg) AS BIGINT) AS stot,
               CAST(SUM(ssg) AS BIGINT) AS sstot,
               SUM(CAST(ROUND(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                   / CAST(ng AS DOUBLE), 6) AS DECIMAL(25,6))) AS sb
        FROM pg GROUP BY dim)
      SELECT dim, n, k,
             ROUND(((CAST(sb AS DOUBLE) - CAST(stot AS DOUBLE)
                     * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(k AS DOUBLE) - 1.0))
                   / ((CAST(sstot AS DOUBLE) - CAST(sb AS DOUBLE))
                      / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
               AS f_stat
      FROM pd ORDER BY dim"""))

  /** Measured recall@5 of the LSH-bucketed ANN path against the exact
    * brute-force ranking — the accuracy/cost report an ANN deployment
    * publishes, REGISTERED AND GATED rather than spec-only: both
    * engine sides COMPOSE the two registered queries (Spark calls
    * their `run`, the oracle embeds their SQL as CTEs — the
    * [[TextQueries.qTextLangidEval]] no-drift discipline), so the
    * gate hash-matches the entire per-query hit table plus the
    * overall recall. The `qid = -1` row is the corpus-level summary.
    * Scale: both inputs are top-5 × 20-query frames — the expensive
    * part is the searches themselves, already shaped for scale. */
  val qSimRecallEval = Q(
    "q_sim_recall_eval",
    (s, dir) => {
      val b = qSimTopkBrute.run(s, dir)
        .select(col("qid"), col("neighbor_id"))
      val l = qSimLshTopk.run(s, dir)
        .select(col("qid").as("lq"), col("neighbor_id").as("ln"),
          lit(1L).as("hit"))
      val per = b.join(l,
          col("qid") === col("lq") && col("neighbor_id") === col("ln"),
          "left")
        .groupBy(col("qid"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          round(col("n_hits").cast("double") / 5.0, 6).as("recall_at_5"))
      per.unionByName(
          per.agg(sum(col("n_hits")).as("th"), count(lit(1)).as("nq"))
            .select(lit(-1L).as("qid"), col("th").as("n_hits"),
              round(col("th").cast("double") /
                (col("nq") * 5L).cast("double"), 6).as("recall_at_5")))
        .orderBy(col("qid"))
    },
    Some(s"""
      WITH brute AS (${qSimTopkBrute.oracle.get}),
      lsh AS (${qSimLshTopk.oracle.get}),
      per AS (
        SELECT b.qid, COUNT(l.neighbor_id) AS n_hits
        FROM brute b LEFT JOIN lsh l
          ON l.qid = b.qid AND l.neighbor_id = b.neighbor_id
        GROUP BY b.qid)
      SELECT qid, n_hits,
             ROUND(CAST(n_hits AS DOUBLE) / 5.0, 6) AS recall_at_5
      FROM per
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(SUM(n_hits) AS BIGINT),
             ROUND(CAST(SUM(n_hits) AS DOUBLE) /
                   CAST(COUNT(*) * 5 AS DOUBLE), 6)
      FROM per
      ORDER BY qid"""))

  /** k-NN graph construction over a deterministic embedding sample
    * (`vec_id % 4 = 0`) — each node's exact top-5 cosine neighbors,
    * then the MUTUAL-kNN reduction (keep an edge only when both
    * endpoints rank each other): the standard manifold/clustering
    * substrate, where mutual degree < k flags boundary/outlier points
    * (hubs rank many nodes that don't rank them back). Output per
    * node: mutual degree + the top-1 neighbor with its cosine —
    * [[qSimTopkBrute]]'s scoring discipline (ascending-index double
    * dot, round-6 cosine) verbatim, so the pair hash-matches.
    *
    * Scale shape: the SAMPLE is bounded by construction (a kNN-graph
    * build at corpus scale goes through the LSH/IVF bucketed paths —
    * [[qSimLshTopk]]; this is the exact subgraph those approximate
    * builds are validated against, [[qSimRecallEval]] style). The
    * sample broadcasts (|sample|·dim doubles), each corpus-side
    * partition scores its share, the per-node top-5 [[topKPer]] partitions
    * by node, and the mutual reduction is a self-join of the
    * (|sample|·5)-row edge list on both endpoints. */
  val qSimKnnGraph = Q(
    "q_sim_knn_graph",
    (s, dir) => {
      val n = emb(s, dir).filter(col("vec_id") % 4 === 0)
      val scored = n.join(broadcast(querySide(n)), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nbr"),
          cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos_sim"))
      val edges = topKPer(scored, Seq(col("qid")),
          Seq(col("cos_sim").desc, col("nbr")), 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mutual = edges.as("a").join(edges.as("b"),
          col("a.qid") === col("b.nbr") && col("a.nbr") === col("b.qid"),
          "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("mutual_degree"))
      val top1 = edges.filter(col("rank") === 1)
        .select(col("qid"), col("nbr").as("top1_id"),
          col("cos_sim").as("top1_cos"))
      QueryScopedCache.releaseAfter(
        top1.join(mutual, Seq("qid"), "left")
          .select(col("qid").as("vec_id"),
            coalesce(col("mutual_degree"), lit(0L)).as("mutual_degree"),
            col("top1_id"), col("top1_cos"))
          .orderBy(col("vec_id")),
        Seq(edges))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings WHERE vec_id % 4 = 0),
      scored AS (
        SELECT q.vec_id AS qid, e.vec_id AS nbr,
               ROUND(list_sum(list_transform(generate_series(1, len(q.v)),
                       i -> q.v[i] * e.v[i]))
                     / (SQRT(q.nrm) * SQRT(e.nrm)), 6) AS cos_sim
        FROM e CROSS JOIN e q WHERE e.vec_id <> q.vec_id),
      edges AS (
        SELECT qid, nbr, cos_sim, rank FROM (
          SELECT qid, nbr, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos_sim DESC, nbr) AS rank
          FROM scored) x WHERE rank <= 5),
      mutual AS (
        SELECT a.qid, COUNT(*) AS mutual_degree
        FROM edges a
        WHERE EXISTS (SELECT 1 FROM edges b
                      WHERE b.qid = a.nbr AND b.nbr = a.qid)
        GROUP BY a.qid),
      top1 AS (
        SELECT qid, nbr AS top1_id, cos_sim AS top1_cos
        FROM edges WHERE rank = 1)
      SELECT t.qid AS vec_id,
             COALESCE(m.mutual_degree, 0) AS mutual_degree,
             t.top1_id, t.top1_cos
      FROM top1 t LEFT JOIN mutual m USING (qid)
      ORDER BY vec_id"""))

  /** Maximal-marginal-relevance (MMR) diversified rerank: from each
    * query's top-20 cosine candidate pool, greedily select 5 — first
    * the most relevant, then repeatedly argmax
    * `0.7·rel − 0.3·max sim to already-selected` — trading relevance
    * against redundancy (the Carbonell–Goldstein objective). The
    * retrieval-side twin of SemDeDup: where [[DedupQueries]] drops
    * near-duplicates from the corpus, MMR drops them from each
    * RESULT LIST — the context-window diversifier for RAG-style
    * training-data assembly.
    *
    * Determinism: rel and pairwise sims are round-6 cosines under the
    * [[qSimTopkBrute]] discipline, the score is the identical IEEE
    * expression in both engines, and every argmax breaks ties by
    * candidate id — so the full greedy trajectory hash-matches.
    *
    * Scale shape: the greedy loop is INHERENTLY sequential in k, so
    * the right distribution is per-query dataflow: each of the 4
    * selection rounds is an anti-join (drop selected) + a bounded
    * max-sim aggregation + a qid-partitioned [[topKPer]] argmax over
    * (|queries|·20)-row frames — thousands of queries run one
    * selection step in one pass. The candidate pool and its pairwise
    * sim table (≤ 20·19 rows per query) persist once; each round's
    * selected set eager-localCheckpoints (the BFS lineage lesson —
    * the union-of-references plan would otherwise triple per round). */
  val qSimMmr = Q(
    "q_sim_mmr",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val e = emb(s, dir)
      val q = querySide(e.filter(col("vec_id") < 20))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("rel"))
      val byRel = Seq(col("rel").desc, col("cid"))
      val cand = topKPer(scored, Seq(col("qid")), byRel, 20, "rn")
        .select(col("qid"), col("cid"), col("rel"))
        .persist(MEMORY_AND_DISK)
      val sims = cand.select(col("qid"), col("cid").as("a"))
        .join(cand.select(col("qid"), col("cid").as("b")), Seq("qid"))
        .filter(col("a") =!= col("b"))
        .join(e.select(col("vec_id").as("a"), col("v").as("av"),
          col("nrm").as("anrm")), Seq("a"))
        .join(e.select(col("vec_id").as("b"), col("v").as("bv"),
          col("nrm").as("bnrm")), Seq("b"))
        .select(col("qid"), col("a"), col("b"),
          cosine(col("av"), col("bv"), col("anrm"), col("bnrm")).as("sim"))
        .persist(MEMORY_AND_DISK)
      var sel = topKPer(cand, Seq(col("qid")), byRel, 1, "rn")
        .select(col("qid"), col("cid"), col("rel"), lit(1L).as("sel_rank"))
        .localCheckpoint(true)
      for (t <- 2 to 5) {
        val rem = cand.join(sel.select(col("qid"), col("cid")),
          Seq("qid", "cid"), "left_anti")
        val ms = sims.join(sel.select(col("qid"), col("cid").as("b")),
            Seq("qid", "b"))
          .groupBy(col("qid"), col("a")).agg(max(col("sim")).as("ms"))
          .select(col("qid"), col("a").as("cid"), col("ms"))
        val pick = topKPer(rem.join(ms, Seq("qid", "cid")), Seq(col("qid")),
            Seq((lit(0.7) * col("rel") - lit(0.3) * col("ms")).desc,
              col("cid")), 1, "rn")
          .select(col("qid"), col("cid"), col("rel"),
            lit(t.toLong).as("sel_rank"))
        sel = sel.unionByName(pick).localCheckpoint(true)
      }
      QueryScopedCache.releaseAfter(
        sel.select(col("qid"), col("sel_rank"), col("cid"), col("rel"))
          .orderBy(col("qid"), col("sel_rank")),
        Seq(cand, sims))
    },
    Some {
      def lvl(t: Int) = s"""
      pick$t AS (
        SELECT qid, cid, rel, CAST($t AS BIGINT) AS sel_rank FROM (
          SELECT r.qid, r.cid, r.rel,
                 ROW_NUMBER() OVER (PARTITION BY r.qid
                   ORDER BY 0.7 * r.rel - 0.3 * m.ms DESC, r.cid) AS rn
          FROM (SELECT c.* FROM cand c
                WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} s
                                  WHERE s.qid = c.qid
                                    AND s.cid = c.cid)) r
          JOIN (SELECT si.qid, si.a AS cid, MAX(si.sim) AS ms
                FROM sims si JOIN sel${t - 1} s
                  ON s.qid = si.qid AND s.cid = si.b
                GROUP BY 1, 2) m
            ON m.qid = r.qid AND m.cid = r.cid) x
        WHERE rn = 1),
      sel$t AS (SELECT * FROM sel${t - 1}
                UNION ALL SELECT * FROM pick$t)"""
      s"""
      WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e
            WHERE vec_id < 20),
      scored AS (
        SELECT q.qid, e.vec_id AS cid,
               ROUND(list_sum(list_transform(generate_series(1, len(q.qv)),
                       i -> q.qv[i] * e.v[i]))
                     / (SQRT(q.qnrm) * SQRT(e.nrm)), 6) AS rel
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
      cand AS MATERIALIZED (
        SELECT qid, cid, rel FROM (
          SELECT qid, cid, rel,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY rel DESC, cid) AS rn
          FROM scored) x WHERE rn <= 20),
      sims AS MATERIALIZED (
        SELECT ca.qid, ca.cid AS a, cb.cid AS b,
               ROUND(list_sum(list_transform(generate_series(1, len(va.v)),
                       i -> va.v[i] * vb.v[i]))
                     / (SQRT(va.nrm) * SQRT(vb.nrm)), 6) AS sim
        FROM cand ca JOIN cand cb
          ON cb.qid = ca.qid AND cb.cid <> ca.cid
        JOIN e va ON va.vec_id = ca.cid
        JOIN e vb ON vb.vec_id = cb.cid),
      sel1 AS (
        SELECT qid, cid, rel, CAST(1 AS BIGINT) AS sel_rank FROM (
          SELECT qid, cid, rel,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY rel DESC, cid) AS rn
          FROM cand) x WHERE rn = 1),
      ${lvl(2)},
      ${lvl(3)},
      ${lvl(4)},
      ${lvl(5)}
      SELECT qid, sel_rank, cid, rel FROM sel5
      ORDER BY qid, sel_rank"""
    })

  /** Top principal component of the embedding space by distributed
    * power iteration — the PCA direction every embedding-space
    * diagnostic starts from (dominant-axis variance share, anisotropy
    * screens, whitening, the "is this embedding model collapsing"
    * check). Two stages, both integer-exact so the training run
    * itself gates by full hash-match (the [[qSimKmeans]] discipline):
    *
    * 1. GRAM ACCUMULATION — vectors quantize to micro-units and the
    *    64×64 Gram matrix G = Σ v·vᵀ accumulates as BIGINT via a
    *    double posexplode with map-side partial aggregation: each
    *    task emits ≤4096 (j,k) cells regardless of row count, so the
    *    corpus-scale shuffle is 4096 cells per task, never n·d².
    * 2. POWER ITERATION — G rescales once by its max |cell| to a
    *    ≤2²⁰ integer range, then 4 fixed sweeps u ← Ĝu with L1
    *    renormalization to ~10⁶; every division is truncation toward
    *    zero on BOTH engines (Spark `div`; the oracle spells the
    *    sign-split CASE because DuckDB `//` floors, which differs on
    *    negative loadings). Fixed horizon for oracle parity
    *    ([[GraphQueries.qGraphPagerank]] discipline).
    *
    * Each 64-row sweep result localCheckpoints eagerly — the sweep
    * consumes its input twice (norm + renormalize), and without the
    * cut the four chained sweeps re-derive upstream levels
    * exponentially (the [[GraphQueries.qGraphHits]] lesson). The
    * 4096-cell rescaled Gram persists across all four sweeps.
    *
    * Scale bound (docstring contract, [[qStatsGini]] convention):
    * micro-unit products |e_j·e_k| ≤ ~4·10¹² per row keep the BIGINT
    * Gram exact to n ≈ 2·10⁶ rows per cell; beyond that accumulate
    * the Gram in DECIMAL(25,0). */
  val qSimPca = Q(
    "q_sim_pca",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val e = Tables.spread(Tables(s, dir, "embeddings"))
        .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1000000, 0).cast("long"))
            .as("m"))
      val cells = e
        .select(col("m"), posexplode(col("m")).as(Seq("j", "ej")))
        .select(col("j"), col("ej"), posexplode(col("m")).as(Seq("k", "ek")))
        .groupBy(col("j"), col("k"))
        .agg(sum(col("ej") * col("ek")).as("g"))
      val mx = cells.agg(max(abs(col("g"))).as("mg"))
      val gs = cells.crossJoin(broadcast(mx))
        .select(col("j"), col("k"),
          expr("g div (mg div 1048576 + 1)").as("gs"))
        .persist(MEMORY_AND_DISK)
      val u0 = s.range(0, 64).toDF("j")
        .select(col("j").cast("int").as("j"), lit(1000000L).as("u"))
      def sweep(u: DataFrame): DataFrame = {
        val up = gs
          .join(broadcast(u.select(col("j").as("k"), col("u").as("uk"))),
            Seq("k"))
          .groupBy(col("j")).agg(sum(col("gs") * col("uk")).as("up"))
          .localCheckpoint(true)
        val nrm = up.agg(sum(abs(col("up"))).as("snorm"))
        up.crossJoin(broadcast(nrm))
          .select(col("j"),
            expr("up div (snorm div 1000000 + 1)").as("u"))
      }
      val u4 = sweep(sweep(sweep(sweep(u0))))
      val out = u4
        .select(col("j").cast("long").as("j"),
          col("u").as("loading_micro"))
        .orderBy(col("j"))
      QueryScopedCache.releaseAfter(out, Seq(gs))
    },
    Some("""
      WITH e AS (
        SELECT vec_id,
               [CAST(ROUND(x * 1000000) AS BIGINT)
                FOR x IN CAST(embedding AS DOUBLE[])] AS m
        FROM embeddings),
      cells AS (
        SELECT s1.j, s2.k,
               CAST(SUM(m[s1.j + 1] * m[s2.k + 1]) AS BIGINT) AS g
        FROM e
        CROSS JOIN generate_series(0, 63) s1(j)
        CROSS JOIN generate_series(0, 63) s2(k)
        GROUP BY s1.j, s2.k),
      mx AS (SELECT CAST(MAX(abs(g)) AS BIGINT) AS mg FROM cells),
      gs AS (
        SELECT j, k,
               CASE WHEN g < 0 THEN -((-g) // (mg // 1048576 + 1))
                    ELSE g // (mg // 1048576 + 1) END AS gs
        FROM cells CROSS JOIN mx),
      u0 AS (SELECT j, CAST(1000000 AS BIGINT) AS u
             FROM generate_series(0, 63) t(j)),
      s1 AS (SELECT g.j, CAST(SUM(g.gs * u.u) AS BIGINT) AS up
             FROM gs g JOIN u0 u ON u.j = g.k GROUP BY g.j),
      n1 AS (SELECT CAST(SUM(abs(up)) AS BIGINT) AS s FROM s1),
      u1 AS (SELECT j, CASE WHEN up < 0
                 THEN -((-up) // (s // 1000000 + 1))
                 ELSE up // (s // 1000000 + 1) END AS u
             FROM s1 CROSS JOIN n1),
      s2 AS (SELECT g.j, CAST(SUM(g.gs * u.u) AS BIGINT) AS up
             FROM gs g JOIN u1 u ON u.j = g.k GROUP BY g.j),
      n2 AS (SELECT CAST(SUM(abs(up)) AS BIGINT) AS s FROM s2),
      u2 AS (SELECT j, CASE WHEN up < 0
                 THEN -((-up) // (s // 1000000 + 1))
                 ELSE up // (s // 1000000 + 1) END AS u
             FROM s2 CROSS JOIN n2),
      s3 AS (SELECT g.j, CAST(SUM(g.gs * u.u) AS BIGINT) AS up
             FROM gs g JOIN u2 u ON u.j = g.k GROUP BY g.j),
      n3 AS (SELECT CAST(SUM(abs(up)) AS BIGINT) AS s FROM s3),
      u3 AS (SELECT j, CASE WHEN up < 0
                 THEN -((-up) // (s // 1000000 + 1))
                 ELSE up // (s // 1000000 + 1) END AS u
             FROM s3 CROSS JOIN n3),
      s4 AS (SELECT g.j, CAST(SUM(g.gs * u.u) AS BIGINT) AS up
             FROM gs g JOIN u3 u ON u.j = g.k GROUP BY g.j),
      n4 AS (SELECT CAST(SUM(abs(up)) AS BIGINT) AS s FROM s4),
      u4 AS (SELECT j, CASE WHEN up < 0
                 THEN -((-up) // (s // 1000000 + 1))
                 ELSE up // (s // 1000000 + 1) END AS u
             FROM s4 CROSS JOIN n4)
      SELECT j, u AS loading_micro FROM u4 ORDER BY j"""))

  /** External cluster validation — purity and NMI of the trained
    * integer-Lloyd clustering ([[qSimKmeans]]) against the held
    * ground-truth labels: the evaluation closure for the clustering
    * family, exactly as [[GraphQueries.qGraphModularity]] closes
    * label propagation and [[qSimRecallEval]] closes ANN. Per
    * cluster: size, majority label, majority count; on every row:
    * global purity (Σ majority / N — exact integers, one rounded
    * division) and NMI = I(C;L)/√(H(C)·H(L)), each entropy/MI term a
    * rounded-then-DECIMAL sum over the bounded k×L contingency cells
    * ([[TextQueries.qTextLogprob]] discipline).
    *
    * Scale shape: training is [[kmeansTrain]]'s bounded sweeps over
    * the persisted micro-unit corpus; validation adds one vec-keyed
    * label join, one (cluster, label) cell aggregate (≤ k·L rows),
    * and bounded reductions — the contingency table persists for its
    * three consumers. */
  val qSimPurity = Q(
    "q_sim_purity",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val (cents, vm0, assign) = kmeansTrain(s, dir, 8, 2)
      val cells = assign(cents)
        .join(Tables.spread(Tables(s, dir, "embeddings"))
          .select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy(col("cid"), col("label"))
        .agg(count(lit(1)).as("c"))
        .persist(MEMORY_AND_DISK)
      val nTot = cells.agg(sum(col("c")).as("n"))
      val byC = cells.groupBy(col("cid")).agg(sum(col("c")).as("nc"))
      val byL = cells.groupBy(col("label")).agg(sum(col("c")).as("nl"))
      val hC = byC.crossJoin(broadcast(nTot))
        .agg(sum(expr("""cast(round(-(cast(nc as double) / n) *
          ln(cast(nc as double) / n), 9) as decimal(25,9))"""))
          .as("hc"))
      val hL = byL.crossJoin(broadcast(nTot))
        .agg(sum(expr("""cast(round(-(cast(nl as double) / n) *
          ln(cast(nl as double) / n), 9) as decimal(25,9))"""))
          .as("hl"))
      val mi = cells.join(broadcast(byC), Seq("cid"))
        .join(broadcast(byL), Seq("label"))
        .crossJoin(broadcast(nTot))
        .agg(sum(expr("""cast(round((cast(c as double) / n) *
          ln(cast(c as double) * n / (cast(nc as double) * nl)), 9)
          as decimal(25,9))""")).as("mi"))
      val maj = topKPer(cells, Seq(col("cid")),
          Seq(col("c").desc, col("label")), 1, "rk")
        .select(col("cid"), col("label").as("majority_label"),
          col("c").as("majority_n"))
      val scalars = maj.agg(sum(col("majority_n")).as("sum_maj"))
        .crossJoin(broadcast(nTot))
        .crossJoin(broadcast(hC)).crossJoin(broadcast(hL))
        .crossJoin(broadcast(mi))
        .select(
          round(col("sum_maj").cast("double") /
            col("n").cast("double"), 6).as("purity"),
          round(col("mi").cast("double") /
            sqrt(col("hc").cast("double") * col("hl").cast("double")),
            6).as("nmi"))
      val result = byC.join(maj, Seq("cid"))
        .crossJoin(broadcast(scalars))
        .select(col("cid").as("cluster"), col("nc").as("n_members"),
          col("majority_label"), col("majority_n"),
          col("purity"), col("nmi"))
        .orderBy(col("cluster"))
      QueryScopedCache.releaseAfter(result, Seq(vm0, cells))
    },
    Some(s"""
      WITH $kmTrainSqlPrefix,
      ${kmAssignSql("a3", "c2")},
      cells AS (
        SELECT a.cid, e.label, COUNT(*) AS c
        FROM a3 a JOIN embeddings e USING (vec_id)
        GROUP BY a.cid, e.label),
      ntot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
      byc AS (SELECT cid, CAST(SUM(c) AS BIGINT) AS nc
              FROM cells GROUP BY cid),
      byl AS (SELECT label, CAST(SUM(c) AS BIGINT) AS nl
              FROM cells GROUP BY label),
      hc AS (
        SELECT SUM(CAST(ROUND(-(CAST(nc AS DOUBLE) / n) *
          ln(CAST(nc AS DOUBLE) / n), 9) AS DECIMAL(25,9))) AS hc
        FROM byc CROSS JOIN ntot),
      hl AS (
        SELECT SUM(CAST(ROUND(-(CAST(nl AS DOUBLE) / n) *
          ln(CAST(nl AS DOUBLE) / n), 9) AS DECIMAL(25,9))) AS hl
        FROM byl CROSS JOIN ntot),
      mi AS (
        SELECT SUM(CAST(ROUND((CAST(ce.c AS DOUBLE) / t.n) *
          ln(CAST(ce.c AS DOUBLE) * t.n /
             (CAST(bc.nc AS DOUBLE) * bl.nl)), 9)
          AS DECIMAL(25,9))) AS mi
        FROM cells ce
        JOIN byc bc USING (cid)
        JOIN byl bl USING (label)
        CROSS JOIN ntot t),
      maj AS (
        SELECT cid, label AS majority_label, c AS majority_n FROM (
          SELECT cid, label, c,
                 ROW_NUMBER() OVER (PARTITION BY cid
                   ORDER BY c DESC, label) AS rk
          FROM cells) x WHERE rk = 1),
      scalars AS (
        SELECT ROUND(CAST((SELECT CAST(SUM(majority_n) AS BIGINT)
                 FROM maj) AS DOUBLE) /
               CAST(t.n AS DOUBLE), 6) AS purity,
               ROUND(CAST(m.mi AS DOUBLE) /
                 SQRT(CAST(h1.hc AS DOUBLE) * CAST(h2.hl AS DOUBLE)),
                 6) AS nmi
        FROM ntot t CROSS JOIN hc h1 CROSS JOIN hl h2 CROSS JOIN mi m)
      SELECT b.cid AS cluster, b.nc AS n_members,
             j.majority_label, j.majority_n, s.purity, s.nmi
      FROM byc b JOIN maj j ON j.cid = b.cid CROSS JOIN scalars s
      ORDER BY cluster"""))

  /** Embedding-space outlier screen — the 20 most ISOLATED vectors of
    * the deterministic sample by mean cosine to their 5 nearest
    * neighbors: the out-of-distribution detector a training pipeline
    * runs before trusting new embeddings (mislabeled points, encoder
    * failures, and genuinely novel content all surface as low kNN
    * affinity). The [[qSimKnnGraph]] scoring discipline verbatim
    * (ascending-index double dot, round-6 cosine); the 5 rounded
    * cosines DECIMAL-sum per vector so the mean is order-independent,
    * and the leaderboard orders ascending affinity with total
    * tie-breaks.
    *
    * Scale shape: sample broadcast + per-partition scoring + one
    * per-vector top-5 [[topKPer]] (the kNN-graph plan), then a bounded
    * TakeOrdered(20); at corpus scale the candidate generation swaps
    * to the LSH/IVF bucketed paths exactly as the kNN graph does. */
  val qSimOod = Q(
    "q_sim_ood",
    (s, dir) => {
      val n = emb(s, dir).filter(col("vec_id") % 4 === 0)
      val q = querySide(n, col("label").as("qlabel"))
      val scored = n.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id").as("nbr"),
          cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos_sim"))
      topKPer(scored, Seq(col("qid")), Seq(col("cos_sim").desc, col("nbr")), 5)
        .groupBy(col("qid"), col("qlabel"))
        .agg(round(
          sum(expr("cast(cos_sim as decimal(10,6))")).cast("double")
            / 5.0, 6).as("knn_mean_cos"))
        .select(col("qid").as("vec_id"), col("qlabel").as("label"),
          col("knn_mean_cos"))
        .orderBy(col("knn_mean_cos"), col("vec_id"))
        .limit(20)
    },
    Some("""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings WHERE vec_id % 4 = 0),
      scored AS (
        SELECT q.vec_id AS qid, q.label AS qlabel, e.vec_id AS nbr,
               ROUND(list_sum(list_transform(generate_series(1, len(q.v)),
                       i -> q.v[i] * e.v[i]))
                     / (SQRT(q.nrm) * SQRT(e.nrm)), 6) AS cos_sim
        FROM e CROSS JOIN e q WHERE e.vec_id <> q.vec_id),
      top5 AS (
        SELECT qid, qlabel, cos_sim FROM (
          SELECT qid, qlabel, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos_sim DESC, nbr) AS rank
          FROM scored) x WHERE rank <= 5)
      SELECT qid AS vec_id, qlabel AS label,
             ROUND(CAST(SUM(CAST(cos_sim AS DECIMAL(10,6)))
               AS DOUBLE) / 5.0, 6) AS knn_mean_cos
      FROM top5 GROUP BY qid, qlabel
      ORDER BY knn_mean_cos, vec_id LIMIT 20"""))

  /** INTERNAL cluster validation — simplified silhouette of the
    * trained integer-Lloyd clustering ([[qSimKmeans]]): where
    * [[qSimPurity]] judges the clustering against held labels,
    * silhouette judges it from geometry alone (the metric available
    * when no labels exist). Per vector, a = squared micro-unit L2 to
    * its own (nearest) centroid and b = to the second-nearest; both
    * are EXACT integers from one array_sort over the broadcast
    * centroid array, so the only float step is the per-vector score
    * s = (b−a)/b ∈ [0,1] (a ≤ b by construction; b = 0 ⇒ coincident
    * centroids ⇒ s = 0), rounded to 6 and DECIMAL-summed so the
    * per-cluster and overall means are order-independent. The
    * squared-distance centroid variant (Hruschka's simplified
    * silhouette) is the gated contract — full pairwise silhouette is
    * O(n²) and exists only as a small-sample diagnostic.
    *
    * Scale shape: training is [[kmeansTrain]]'s bounded sweeps; the
    * a/b pass is ONE narrow scan of the persisted micro-unit corpus
    * against the one-row broadcast centroid array (no corpus
    * shuffle), the rollup lands on the ≤k-row cluster key, and the
    * one-row overall mean reduces the per-cluster DECIMAL sums —
    * exact, so overall and per-cluster views agree bit-for-bit. */
  val qSimSilhouette = Q(
    "q_sim_silhouette",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val (cents, vm0, _) = kmeansTrain(s, dir, 8, 2)
      val ab = vm0.crossJoin(broadcast(cents))
        .withColumn("ds", expr(
          """slice(array_sort(transform(cents, c -> struct(
               aggregate(zip_with(vm, c.cm, (a, b) -> (a - b) * (a - b)),
                         cast(0 as bigint), (acc, x) -> acc + x) as d,
               c.cid as cid))), 1, 2)"""))
        .select(col("vec_id"),
          col("ds").getItem(0).getField("cid").as("cid"),
          col("ds").getItem(0).getField("d").as("a2"),
          col("ds").getItem(1).getField("d").as("b2"))
      val perVec = ab.select(col("cid"),
        expr("""cast(round(case when b2 = 0 then 0.0d
                else cast(b2 - a2 as double) / cast(b2 as double) end, 6)
                as decimal(25,6))""").as("s6"))
      val perC = perVec.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("s6")).as("ssum"))
        .persist(MEMORY_AND_DISK)
      val tot = perC.agg(round(
          sum(col("ssum")).cast("double") /
            sum(col("n_members")).cast("double"), 6).as("overall_sil"))
      val result = perC.crossJoin(broadcast(tot))
        .select(col("cid").as("cluster"), col("n_members"),
          round(col("ssum").cast("double") /
            col("n_members").cast("double"), 6).as("mean_sil"),
          col("overall_sil"))
        .orderBy(col("cluster"))
      QueryScopedCache.releaseAfter(result, Seq(vm0, perC))
    },
    Some(s"""
      WITH $kmTrainSqlPrefix,
      ds AS (
        SELECT vec_id, cid, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY d, cid) AS rn
        FROM (SELECT v.vec_id, c.cid, ${kmDistSql("v", "c")} AS d
              FROM vm v CROSS JOIN c2 c)),
      ab AS (
        SELECT a.vec_id, a.cid, a.d AS a2, b.d AS b2
        FROM ds a JOIN ds b USING (vec_id)
        WHERE a.rn = 1 AND b.rn = 2),
      sv AS (
        SELECT cid,
               CAST(ROUND(CASE WHEN b2 = 0 THEN 0.0
                 ELSE CAST(b2 - a2 AS DOUBLE) / CAST(b2 AS DOUBLE) END,
                 6) AS DECIMAL(25,6)) AS s6
        FROM ab),
      perc AS (
        SELECT cid, COUNT(*) AS n_members, SUM(s6) AS ssum
        FROM sv GROUP BY cid),
      tot AS (
        SELECT ROUND(CAST(SUM(ssum) AS DOUBLE) /
                 CAST(SUM(n_members) AS DOUBLE), 6) AS overall_sil
        FROM perc)
      SELECT p.cid AS cluster, p.n_members,
             ROUND(CAST(p.ssum AS DOUBLE) /
               CAST(p.n_members AS DOUBLE), 6) AS mean_sil,
             t.overall_sil
      FROM perc p CROSS JOIN tot t
      ORDER BY cluster"""))

  /** Matryoshka truncation evaluation — how much exact-cosine recall
    * survives when embeddings are cut to their first 8/16/32/64
    * dimensions: for every query (vec_id < 20) and every prefix
    * width, rank the corpus by cosine over the TRUNCATED vectors and
    * measure top-5 overlap against the full-width top-5. This is the
    * dimension-vs-quality curve a Matryoshka-representation deployment
    * reads before choosing its serving width (store 64, search 8 —
    * if recall holds), the same storage/recall trade [[qSimSqTopk]]
    * and [[qSimPqTopk]] probe via quantization, measured here via
    * truncation. The dim = 64 row is the built-in control (recall
    * exactly 1). Cosines follow the module's parity discipline
    * (sequential double accumulation, round 6, neighbor-id ties).
    *
    * Scale shape: the corpus never shuffles — the 20-query × 4-width
    * frame broadcasts into ONE narrow corpus scan (bounded-block
    * BNLJ, the [[qSimTopkBrute]] pattern), per-(width, query) top-5
    * is a partitioned [[topKPer]] over candidate rows, and the per-width
    * rollup is bounded-frame work. Prefix dots cost Σdᵢ ≈ 2× one
    * full-width pass. */
  val qSimMatryoshka = Q(
    "q_sim_matryoshka",
    (s, dir) => {
      val e = emb(s, dir)
      val dims = Seq(8, 16, 32, 64)
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
        .crossJoin(broadcast(
          s.range(0, 1).select(explode(array(dims.map(d => lit(d)): _*))
            .as("dim"))))
        .select(col("qid"), col("dim"),
          slice(col("qv"), lit(1), col("dim")).as("qv"))
        .withColumn("qnrm", dot(col("qv"), col("qv")))
      val vd = slice(col("v"), lit(1), col("dim"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("dim"), col("qid"), col("vec_id").as("neighbor_id"),
          cosine(col("qv"), vd, col("qnrm"), dot(vd, vd)).as("cos_sim"))
      val top5 = topKPer(scored, Seq(col("dim"), col("qid")),
          Seq(col("cos_sim").desc, col("neighbor_id")), 5)
        .groupBy(col("dim"), col("qid"))
        .agg(collect_set(col("neighbor_id")).as("ids"))
      val truth = top5.filter(col("dim") === 64)
        .select(col("qid"), col("ids").as("tids"))
      top5.join(truth, Seq("qid"))
        .select(col("dim"), col("qid"),
          size(array_intersect(col("ids"), col("tids"))).cast("long")
            .as("hits"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n_queries"), sum(col("hits")).as("hits"),
          round(sum(col("hits")).cast("double") /
            (count(lit(1)) * 5).cast("double"), 6).as("recall5"))
        .orderBy(col("dim"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      q AS (
        SELECT e.vec_id AS qid, d.dim, e.v[1:d.dim] AS qv,
               list_sum(list_transform(e.v[1:d.dim], x -> x * x))
                 AS qnrm
        FROM e, (SELECT unnest([8, 16, 32, 64]) AS dim) d
        WHERE e.vec_id < 20),
      scored AS (
        SELECT q.dim, q.qid, e.vec_id AS neighbor_id,
               ROUND(list_sum(list_transform(
                       list_zip(q.qv, e.v[1:q.dim]),
                       p -> p[1] * p[2]))
                 / (SQRT(q.qnrm) *
                    SQRT(list_sum(list_transform(e.v[1:q.dim],
                      x -> x * x)))), 6) AS cos_sim
        FROM e JOIN q ON e.vec_id <> q.qid),
      ranked AS (
        SELECT dim, qid, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY dim, qid
                 ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored),
      top5 AS (
        SELECT dim, qid, neighbor_id FROM ranked WHERE rank <= 5),
      hits AS (
        SELECT t.dim, t.qid,
               SUM(CASE WHEN g.neighbor_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS h
        FROM top5 t
        LEFT JOIN (SELECT qid, neighbor_id FROM top5 WHERE dim = 64) g
          ON g.qid = t.qid AND g.neighbor_id = t.neighbor_id
        GROUP BY t.dim, t.qid)
      SELECT dim, COUNT(*) AS n_queries,
             CAST(SUM(h) AS BIGINT) AS hits,
             ROUND(CAST(SUM(h) AS DOUBLE)
                   / CAST(COUNT(*) * 5 AS DOUBLE), 6) AS recall5
      FROM hits GROUP BY dim ORDER BY dim"""))

  /** Ranking-quality evaluation (nDCG@10) — score the exact-cosine
    * retriever by POSITION-AWARE relevance, not just set overlap
    * ([[qSimRecallEval]]): for each query (vec_id < 20), rank the
    * corpus, mark each top-10 hit relevant iff its class label
    * matches the query's, and weight hits by the DCG discount
    * 1/log₂(rank+1) — held as TEN MICRO-SCALED INTEGER LITERALS
    * (1000000, 630930, …, 289065), the same table in both engines,
    * so no transcendental function ever runs and DCG/IDCG are exact
    * BIGINT sums. IDCG takes min(10, class size − 1) ideal hits
    * (the query cannot retrieve itself). The one double is the final
    * rounded nDCG ratio. This is the eval a retrieval pipeline runs
    * when "how many right docs" ([[qSimRecallEval]]) is too coarse —
    * a hit at rank 1 is worth 3.5× a hit at rank 10.
    *
    * Scale shape: the [[qSimTopkBrute]] bounded-block envelope (20
    * broadcast queries × one narrow corpus scan, per-query top-10
    * [[topKPer]]), plus a bounded label-count join for IDCG. */
  val qSimNdcg = Q(
    "q_sim_ndcg",
    (s, dir) => {
      val wtab = "array(1000000L, 630930L, 500000L, 430677L, " +
        "386853L, 356207L, 333333L, 315465L, 301030L, 289065L)"
      val e = emb(s, dir)
      val q = querySide(e.filter(col("vec_id") < 20),
        col("label").as("qlabel"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id").as("neighbor_id"),
          col("label"),
          cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos_sim"))
      val hits = topKPer(scored, Seq(col("qid")),
          Seq(col("cos_sim").desc, col("neighbor_id")), 10)
        .groupBy(col("qid"), col("qlabel"))
        .agg(sum(when(col("label") === col("qlabel"), lit(1L))
            .otherwise(lit(0L))).as("n_rel"),
          sum(when(col("label") === col("qlabel"),
            expr(s"element_at($wtab, int(rank))")).otherwise(lit(0L)))
            .as("dcg_micro"))
      val cls = e.groupBy(col("label").as("qlabel"))
        .agg(count(lit(1)).as("cs"))
      hits.join(broadcast(cls), Seq("qlabel"))
        .select(col("qid"), col("qlabel").as("label"), col("n_rel"),
          col("dcg_micro"),
          expr("aggregate(slice(" + wtab +
            ", 1, CAST(least(10L, cs - 1) AS INT)), 0L, " +
            "(acc, x) -> acc + x)").as("idcg_micro"))
        .withColumn("ndcg",
          round(col("dcg_micro").cast("double") /
            col("idcg_micro").cast("double"), 6))
        .orderBy(col("qid"))
    },
    Some("""
      WITH wt AS (
        SELECT [1000000, 630930, 500000, 430677, 386853, 356207,
                333333, 315465, 301030, 289065] AS ws),
      e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings),
      q AS (
        SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qnrm
        FROM e WHERE vec_id < 20),
      scored AS (
        SELECT q.qid, q.qlabel, e.vec_id AS neighbor_id, e.label,
               ROUND(list_sum(list_transform(list_zip(q.qv, e.v),
                       p -> p[1] * p[2]))
                 / (SQRT(q.qnrm) * SQRT(e.nrm)), 6) AS cos_sim
        FROM e JOIN q ON e.vec_id <> q.qid),
      ranked AS (
        SELECT qid, qlabel, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored),
      hits AS (
        SELECT qid, qlabel,
               CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_rel,
               CAST(SUM(CASE WHEN label = qlabel
                 THEN ws[CAST(rank AS INTEGER)] ELSE 0 END)
                 AS BIGINT) AS dcg_micro
        FROM ranked CROSS JOIN wt
        WHERE rank <= 10
        GROUP BY qid, qlabel),
      cls AS (SELECT label AS qlabel, COUNT(*) AS cs
              FROM e GROUP BY label),
      idcg AS (
        SELECT h.qid, h.qlabel, h.n_rel, h.dcg_micro,
               CAST(list_sum(ws[1:CAST(LEAST(10, c.cs - 1) AS INTEGER)])
                 AS BIGINT) AS idcg_micro
        FROM hits h
        JOIN cls c USING (qlabel)
        CROSS JOIN wt)
      SELECT qid, qlabel AS label, n_rel, dcg_micro, idcg_micro,
             ROUND(CAST(dcg_micro AS DOUBLE)
                   / CAST(idcg_micro AS DOUBLE), 6) AS ndcg
      FROM idcg
      ORDER BY qid"""))

  /** Greedy farthest-point coreset (k-center selection) — pick the 10
    * embeddings that best SPREAD over the corpus: seed with the
    * lowest vec_id, then repeatedly add the vector whose maximum
    * cosine to the already-selected set is SMALLEST (the classic
    * 2-approximation to k-center) — the diversity-sampling step a
    * curation pipeline runs to build a small representative probe
    * set (eval seeds, annotation batches, cluster initializations
    * stronger than random). Similarities are rounded to micro-unit
    * BIGINTs before every argmin comparison (ties → lowest vec_id),
    * so both engines walk the identical selection sequence; the
    * oracle UNROLLS the 10 greedy steps as generated SQL — each step
    * a corpus × selected-set min/argmax over exactly the same
    * integers.
    *
    * Scale shape: k bounded scans — the selected vectors live on the
    * DRIVER (≤ 10 × 64 doubles — the bounded one-row-per-step
    * round-trip of the qSimKmeans iteration pattern) and enter each
    * step as LITERAL arrays, so step k is ONE narrow corpus pass
    * computing an in-row codegen max over ≤ k dots straight into a
    * 1-row TakeOrdered argmin — no join, no aggregation exchange, no
    * broadcast build job anywhere (the r13 rewrite: the prior shape
    * re-scanned the corpus per step to extract the selected rows,
    * broadcast-joined them back, and hash-aggregated the |corpus|×k
    * product — 3 jobs and an exchange per step for the same
    * integers). Nothing ever shuffles the corpus. */
  val qSimCoreset = Q(
    "q_sim_coreset",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val e = emb(s, dir).select(col("vec_id"), col("v"), col("nrm"))
        .persist(MEMORY_AND_DISK)
      val firstRow = e.orderBy(col("vec_id")).limit(1).collect()(0)
      var selIds = Vector(firstRow.getLong(0))
      // (vector, norm) pairs of the selected set — re-entering as
      // literals keeps each step's sim arithmetic bit-identical to
      // the old broadcast-join form (same dot fold, same operand
      // order, exact collected doubles)
      var selVecs = Vector(
        (firstRow.getSeq[Double](1), firstRow.getDouble(2)))
      var out = Vector((1L, firstRow.getLong(0), -1000000L))
      for (step <- 2 to 10) {
        val sims = selVecs.map { case (sv, snrm) =>
          round(cosineRatio(col("v"), typedLit(sv), col("nrm"), lit(snrm))
            * 1000000).cast("long")
        }
        val next = e.filter(!col("vec_id").isInCollection(selIds))
          .select(col("vec_id"), col("v"), col("nrm"),
            (if (sims.size == 1) sims.head else greatest(sims: _*))
              .as("max_sim_micro"))
          .orderBy(col("max_sim_micro"), col("vec_id")).limit(1)
          .collect()(0)
        selIds :+= next.getLong(0)
        selVecs :+= ((next.getSeq[Double](1), next.getDouble(2)))
        out :+= ((step.toLong, next.getLong(0), next.getLong(3)))
      }
      e.unpersist()
      out.toDF("step", "vec_id", "max_sim_micro").orderBy(col("step"))
    },
    Some(coresetOracle))

  /** The unrolled 10-step greedy k-center oracle (see
    * [[qSimCoreset]]): step CTEs s1..s10, each an argmin over the
    * corpus of the max micro-rounded cosine to the union of previous
    * steps. */
  private def coresetOracle: String = {
    val base = """
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x)) AS nrm
        FROM embeddings),
      s1 AS (
        SELECT vec_id, v, nrm, CAST(1 AS BIGINT) AS step,
               CAST(-1000000 AS BIGINT) AS max_sim_micro
        FROM e ORDER BY vec_id LIMIT 1)"""
    val steps = (2 to 10).map { k =>
      val prev = (1 until k).map(i => s"SELECT * FROM s$i").mkString(
        "(", " UNION ALL ", ")")
      s""",
      s$k AS (
        SELECT c.vec_id, c.v, c.nrm, CAST($k AS BIGINT) AS step,
               MAX(CAST(ROUND(list_sum(list_transform(
                     list_zip(c.v, p.v), z -> z[1] * z[2]))
                   / (SQRT(c.nrm) * SQRT(p.nrm)) * 1000000)
                 AS BIGINT)) AS max_sim_micro
        FROM e c JOIN $prev p ON c.vec_id <> p.vec_id
        GROUP BY c.vec_id, c.v, c.nrm
        HAVING COUNT(*) = ${k - 1}
        ORDER BY max_sim_micro, c.vec_id LIMIT 1)"""
    }.mkString
    val all10 = (1 to 10).map(i =>
      s"SELECT step, vec_id, max_sim_micro FROM s$i").mkString(
      " UNION ALL ")
    s"$base$steps\n      $all10 ORDER BY step"
  }

  /** Nearest-class-mean (centroid) classifier evaluation — the
    * cheapest embedding-quality readout there is: average each
    * label's vectors into a prototype, classify every vector by
    * nearest prototype (squared Euclidean), and report the confusion
    * matrix — if embeddings carry label structure, the diagonal
    * dominates; the linear-probe-without-training eval. EVERYTHING is
    * exact integer: vector components and centroids live in micro
    * units (centroid dim = ⌊10⁶·Σx / n⌋ via an IEEE floor both
    * engines compute identically — the divisor is ≤ corpus size, so
    * the quotient is never within 10⁻⁶ of the floor boundary), and
    * squared distances are BIGINT sums, so the argmin (label ties →
    * smaller label) is deterministic with no cosine rounding seam at
    * all — stronger than the round-6 discipline the cosine queries
    * need.
    *
    * Scale shape: centroids are one (label, dim) rollup (bounded:
    * labels × 64 rows, broadcast); scoring joins the exploded corpus
    * against that bounded table on dim (10 candidates per term), one
    * vec-keyed aggregate + [[topKPer]] argmin; the confusion rollup is
    * bounded. No corpus self-join anywhere. */
  val qSimCentroidEval = Q(
    "q_sim_centroid_eval",
    (s, dir) => {
      val ex = Tables.spread(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "xv")))
        .select(col("vec_id"), col("label"), col("dim"),
          round(col("xv").cast("double") * 1000000).cast("long")
            .as("xm"))
      val cent = ex.groupBy(col("label").as("clabel"), col("dim"))
        .agg(sum(col("xm")).as("sx"), count(lit(1)).as("cn"))
        .select(col("clabel"), col("dim"),
          floor(col("sx").cast("double") / col("cn").cast("double"))
            .cast("long").as("cm"))
      val d2 = ex.join(broadcast(cent), Seq("dim"))
        .groupBy(col("vec_id"), col("label"), col("clabel"))
        .agg(sum((col("xm") - col("cm")) * (col("xm") - col("cm")))
          .as("d2"))
      topKPer(d2, Seq(col("vec_id")), Seq(col("d2"), col("clabel")), 1, "rk")
        .groupBy(col("label"), col("clabel").as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("predicted"))
    },
    Some("""
      WITH ex AS (
        SELECT vec_id, label, u.d AS dim,
               CAST(ROUND(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT)
                 AS xm
        FROM embeddings,
             LATERAL unnest([{'d': i - 1, 'x': embedding[i]}
               for i in generate_series(1, len(embedding))]) AS t(u)),
      cent AS (
        SELECT label AS clabel, dim,
               CAST(FLOOR(CAST(SUM(xm) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cm
        FROM ex GROUP BY 1, 2),
      d2 AS (
        SELECT e.vec_id, e.label, c.clabel,
               CAST(SUM((e.xm - c.cm) * (e.xm - c.cm)) AS BIGINT)
                 AS d2
        FROM ex e JOIN cent c USING (dim)
        GROUP BY 1, 2, 3),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY d2, clabel) AS rk
        FROM d2)
      SELECT label, clabel AS predicted, COUNT(*) AS n
      FROM ranked WHERE rk = 1
      GROUP BY label, clabel
      ORDER BY label, predicted"""))

  val all: Seq[Q] = Seq(qSimTopkBrute, qSimLshTopk, qSimIvfTopk, qSimPqTopk,
    qSimIvfPqTopk, qSimIvfPqStored, qSimIvfPqAdmitted, qSimIvfPqRerank,
    qSimSqTopk, qSimKmeans, qSimIvfTrained, qSimHybridRrf, qSimHardNegatives,
    qSimFisher, qSimRecallEval, qSimKnnGraph, qSimMmr, qSimPca,
    qSimPurity, qSimOod, qSimSilhouette, qSimMatryoshka, qSimNdcg,
    qSimCoreset, qSimCentroidEval)
}
