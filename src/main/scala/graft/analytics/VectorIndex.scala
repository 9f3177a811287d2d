package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVFADC index — the ANN sibling of [[SignatureStore]]:
  * the inline [[SimilarityQueries.qSimIvfPqTopk]] derives centroids,
  * codebook, and PQ codes from the corpus on every run (so the query
  * is self-contained under the oracle gate); a production corpus
  * computes them ONCE at ingest and serves every search from the
  * stored tables — that layout is what makes billion-vector serving
  * possible (Jégou et al.'s premise: codes live in RAM, originals on
  * cold storage). This object makes that layout code.
  *
  * Layout (catalog tables under the `store` name prefix):
  *   - `{store}_ivf`   one row: `cents` array<struct<cid,cv,cnrm>> —
  *     the k coarse centroids in the in-row broadcast shape the
  *     assignment scoring consumes directly
  *   - `{store}_pq`    one row: `cs` array<array<double>> — the
  *     64-entry PQ codebook over normalized vectors (position = code)
  *   - `{store}_codes` (vec_id, cid, codes array<int>) — every corpus
  *     vector's coarse assignment + 32 PQ codes, bucketed by cid so
  *     the probe equi-join reads inverted lists in place
  *
  * [[search]] touches ONLY these tables: queries rank the broadcast
  * centroid array in-row (no corpus scan), probe `nprobe` inverted
  * lists through the cid equi-join, and ADC-rank candidates from
  * stored codes with a broadcast per-query LUT — per candidate, 32
  * integer lookups and never an original corpus vector. Determinism
  * matches the inline query exactly (md5-sampled centroids/codebook,
  * micro-unit integer distances), which is how the registered
  * `q_sim_ivfpq_stored` can share `q_sim_ivfpq_topk`'s DuckDB oracle:
  * the gate proves the persisted index SEARCHES IDENTICALLY to an
  * engine that never stored anything. */
object VectorIndex {

  private[analytics] val parts = Seq("ivf", "pq", "codes")

  /** Micro-unit subspace L2² between the row's normalized vector `v`
    * and codebook position `k`'s m-th 2-dim slice (the LUT build —
    * identical arithmetic to the native PqCodes encode loop). */
  private def d2m(m: String, k: String) =
    s"""cast(round(aggregate(zip_with(
          slice(v, $m * 2 + 1, 2),
          slice(element_at(cs, $k), $m * 2 + 1, 2),
          (a, b) -> (a - b) * (a - b)),
        cast(0 as double), (acc, x) -> acc + x) * 1000000) as bigint)"""

  /** Build and persist the index for an `e` frame in the
    * (vec_id, v, nrm) shape of [[SimilarityQueries.emb]]: k md5-sample
    * IVF centroids, the 64-entry PQ codebook, and per-vector
    * (assignment, codes) — one narrow corpus pass for assignment and
    * one for encoding, both against broadcast single-row tables.
    * `buckets` sizes the codes table (at scale: corpus rows / a few
    * million per bucket, multiple of executor cores). */
  def ingest(e: DataFrame, store: String, k: Int = 16,
      buckets: Int = 8): Unit = {
    val s = e.sparkSession
    StoreMeta.writeGeneration(s, store, parts) { g =>
      // coarse centroids, stored pre-assembled in the broadcast shape
      g.write("ivf", e
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(k)
        .select(col("vec_id").as("cid"), col("v").as("cv"),
          col("nrm").as("cnrm"))
        .agg(collect_list(struct(col("cid"), col("cv"), col("cnrm")))
          .as("cents")))
      // PQ codebook over normalized vectors (position = code)
      g.write("pq", unit(e)
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(64)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(cid, cv))), c -> c.cv)")
          .as("cs")))
      // per-vector coarse assignment + codes, bucketed by the list id.
      // NOT alignToBuckets-aligned: cid has only ~k distinct values, so
      // hash-aligning into `buckets` partitions collides the few keys
      // into fewer tasks (guide §2.5 synthetic-key skew) and the write
      // loses its parallelism for no file-count gain (each task already
      // writes at most |cids| files). r13 A/B: alignment read +0.3 s.
      g.write("codes", encode(e, s.table(g("ivf")), s.table(g("pq"))),
        Some(StoreMeta.Buckets("cid", buckets, align = false)))
      None
    }
  }

  /** (vec_id, v) with `v` scaled to unit length — the PQ domain. */
  private def unit(e: DataFrame): DataFrame =
    e.select(col("vec_id"), expr("transform(v, x -> x / sqrt(nrm))").as("v"))

  /** (vec_id, cid, codes): each row's coarse assignment against the
    * stored centroids and its PQ codes against the stored codebook. */
  private def encode(e: DataFrame, ivf: DataFrame, pq: DataFrame): DataFrame = {
    val assigned = rankCentroids(e, ivf)
      .select(col("vec_id"),
        element_at(col("ranked"), size(col("ranked")))
          .getField("cid").as("cid"))
    val coded = unit(e).crossJoin(broadcast(pq))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.pqCodes(col("v"), col("cs"), 2)
          .as("codes"))
    assigned.join(coded, "vec_id")
  }

  /** Refresh the index geometry — the deliberate ASYMMETRY with
    * [[SignatureStore.reingest]], made explicit in the signature:
    * PQ codes are LOSSY, so new centroids and a new codebook cannot
    * be derived from stored state (a stored code names a codebook
    * cell, not a vector) — the refresh needs the ORIGINAL embeddings,
    * and `originals` makes that re-read the caller's visible,
    * auditable act. Implementation-wise a geometry refresh IS a full
    * [[ingest]] of the retained embeddings table into the next
    * generation (k and the bucket count are re-read from the current
    * store so the refresh preserves layout choices); the atomic
    * generation swap means searches racing the refresh still answer
    * consistently from the old geometry. */
  def reingest(s: SparkSession, store: String, originals: DataFrame): Unit = {
    val t = StoreMeta.current(s, store)
    val k = s.table(t("ivf")).select(size(col("cents"))).head.getInt(0)
    ingest(originals, store, k, StoreMeta.bucketCount(s, t("codes")))
  }

  /** Upgrade a pre-generation index layout in place (see
    * [[StoreMeta.migrate]]). */
  def migrate(s: SparkSession, store: String): Unit =
    StoreMeta.migrate(s, store, parts, None)

  /** Admit a batch of new vectors into a previously [[ingest]]ed
    * index — the ANN twin of [[SignatureStore.admit]]: under the
    * store's FROZEN centroids and codebook, an append is just coarse
    * assignment + PQ encoding of the arriving batch, appended to
    * `{store}_codes` with the ingest-time bucket count (read from the
    * catalog so the append matches the stored layout). This is what a
    * daily embedding-ingest pipeline runs: the corpus-scale tables
    * never rewrite, the append costs one narrow pass over the batch,
    * and every stored code stays comparable forever. vec_ids must be
    * new to the store (append-only; dedup upstream). Geometry is
    * deliberately NOT refreshed — identical to the signature store's
    * frozen-geometry contract: re-run [[ingest]] when corpus drift
    * warrants new centroids (AnalyticsSpec proves search-after-admit
    * ≡ search-after-full-re-ingest under equal geometry). */
  def admit(s: SparkSession, store: String, batch: DataFrame): Unit = {
    // one generation resolve for the whole append (see StoreMeta)
    val t = StoreMeta.current(s, store)
    // not aligned — low-cardinality cid, see the ingest-side note
    StoreMeta.append(s, t("codes"),
      encode(batch, s.table(t("ivf")), s.table(t("pq"))), align = false)
  }

  /** Rank the stored centroid array per row of `e` (ascending by
    * (ccos, -cid): last element = assignment, tail = probe list) —
    * [[SimilarityQueries.rankCentroids]] against a stored single-row
    * centroid table instead of an inline sample. */
  private def rankCentroids(e: DataFrame, ivf: DataFrame): DataFrame =
    e.crossJoin(broadcast(ivf))
      .withColumn("ranked", SimilarityQueries.rankCentroids(col("cents")))
      .drop("cents")

  /** ANN top-k for `queries` (vec_id, v, nrm) against a previously
    * [[ingest]]ed index. Output (qid, rank, neighbor_id, approx_l2) —
    * the [[SimilarityQueries.qSimIvfPqTopk]] shape. Nothing here scans
    * the corpus embeddings: coarse ranking reads the one-row centroid
    * table, candidates ride the cid equi-join against the bucketed
    * codes table, and scoring is 32 integer lookups per candidate in a
    * broadcast LUT. A query whose vec_id exists in the corpus is
    * excluded from its own results (self-exclusion, matching the
    * inline query). */
  def search(s: SparkSession, store: String, queries: DataFrame,
      nprobe: Int = 4, topk: Int = 5): DataFrame =
    SimilarityQueries.topKPer(adcScored(s, store, queries, nprobe),
        Seq(col("qid")), Seq(col("adc_micro"), col("neighbor_id")), topk)
      .select(col("qid"), col("rank"), col("neighbor_id"),
        (col("adc_micro") / lit(1000000.0)).as("approx_l2"))
      .orderBy(col("qid"), col("rank"))

  /** The ADC stage shared by [[search]] and [[rerank]]: every probed
    * candidate with its 32-lookup approximate distance, un-ranked —
    * (qid, neighbor_id, adc_micro). */
  private def adcScored(s: SparkSession, store: String,
      queries: DataFrame, nprobe: Int): DataFrame = {
    // one generation resolve per search (see StoreMeta): all three
    // tables from the same committed generation, so a racing refresh
    // can never blend geometries into one answer
    val t = StoreMeta.current(s, store)
    val codes = s.table(t("codes"))
    val probes = rankCentroids(queries, s.table(t("ivf")))
      .select(col("vec_id").as("qid"),
        explode(transform(
          slice(col("ranked"),
            greatest(size(col("ranked")) - (nprobe - 1), lit(1)),
            lit(nprobe)),
          p => p.getField("cid"))).as("cid"))
    val qlut = unit(queries).crossJoin(broadcast(s.table(t("pq"))))
      // LUT entries 1..size(cs), not a hard 1..64: a corpus smaller
      // than the codebook capacity stores a shorter `cs`, and codes
      // only ever reference stored positions — an unconditional 64
      // would drive element_at out of range (ANSI error)
      .withColumn("lut", expr(
        s"""transform(sequence(0, 31), m ->
              transform(sequence(1, size(cs)), k -> ${d2m("m", "k")}))"""))
      .select(col("vec_id").as("qid"), col("lut"))
    val cand = probes.join(codes, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("codes"))
    cand.join(broadcast(qlut), "qid")
      .select(col("qid"), col("neighbor_id"),
        graft.functions.VectorFunctions.adcScore(col("codes"), col("lut"))
          .as("adc_micro"))
  }

  /** Two-tier retrieval: [[search]]'s compressed-domain ranking as a
    * CANDIDATE GENERATOR (top-`r` by ADC, r ≫ topk), then an exact
    * cosine re-score of only those r candidates against the ORIGINAL
    * float vectors — the standard production economics (Jégou et al.
    * §V: codes select, originals verify) that buys back the recall
    * non-residual 32-code PQ gives up (0.47 → ≈1.0 @5 on the fixture
    * corpus) for r·|queries| exact distances instead of |corpus|.
    *
    * `originals` is the retained embeddings frame in [[SimilarityQueries
    * .emb]]'s (vec_id, v, nrm) shape, passed EXPLICITLY: the index
    * stores only lossy codes, so the exact tier's source of truth must
    * come from outside the store — same reason [[reingest]] doesn't
    * exist here (see the drift contract on [[ingest]]). The candidate
    * set (≤ r rows per query) broadcasts, so the original-vector fetch
    * is one narrow corpus scan with a broadcast hash join — no corpus
    * shuffle; at 100 TB the originals side is the bucketed embeddings
    * table and candidates still broadcast. Output (qid, rank,
    * neighbor_id, cos_sim) — the brute-force query's shape, because
    * that is what this stage approximates. */
  def rerank(s: SparkSession, store: String, queries: DataFrame,
      originals: DataFrame, r: Int = 50, nprobe: Int = 4,
      topk: Int = 5): DataFrame = {
    import SimilarityQueries.{cosine, querySide, topKPer}
    val topR = topKPer(adcScored(s, store, queries, nprobe), Seq(col("qid")),
        Seq(col("adc_micro"), col("neighbor_id")), r, "arank")
      .select(col("qid"), col("neighbor_id"))
    val exact = broadcast(topR)
      .join(originals.select(col("vec_id").as("neighbor_id"), col("v"),
        col("nrm")), "neighbor_id")
      .join(broadcast(querySide(queries)), "qid")
      .select(col("qid"), col("neighbor_id"),
        cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos_sim"))
    topKPer(exact, Seq(col("qid")),
        Seq(col("cos_sim").desc, col("neighbor_id")), topk)
      .select(col("qid"), col("rank"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("qid"), col("rank"))
  }
}
