package graft.analytics

import graft.SparkTestBase
import graft.multimodal.Multimodal
import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Specs for operators whose outputs cannot hash-match a DuckDB oracle
  * (sketches, LSH, engine-specific kernels) plus unit semantics for the
  * composed as-of join. Oracle-matched queries are covered by the
  * driver gate + tools/compare_oracle.py. */
class AnalyticsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("hll approx distinct is within 5% of exact per group") {
    // the one-pass production shape; the registered query re-checks
    // the same bound in-engine under the DuckDB gate
    val approx = RelationalQueries.hllEstimates(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables(spark, sf, "lineitem")
      .groupBy($"l_returnflag").agg(countDistinct($"l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(1L, (n * 0.05).toLong),
        s"group $k: approx ${approx(k)} vs exact $n")
    }
  }

  test("quantile sketch honors the GK rank-error contract per group") {
    // approx_percentile(accuracy=1000) guarantees the reported value's
    // RANK is within n/1000 of the target rank — assert exactly that
    // (value-distance bounds would be distribution-dependent).
    val approx = RelationalQueries.quantileEstimates(spark, sf).collect()
      .map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val groups = Tables(spark, sf, "lineitem")
      .select($"l_returnflag", $"l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(approx.keySet === groups.keySet)
    val ps = Seq(0.5, 0.95, 0.99)
    groups.foreach { case (g, sortedVals) =>
      val n = sortedVals.length
      val tol = math.max(1, n / 1000)
      ps.zip(approx(g)).foreach { case (p, est) =>
        // rank of the estimate among the exact values
        val rank = sortedVals.count(_ <= est)
        val target = math.ceil(p * n).toLong
        assert(math.abs(rank - target) <= tol + 1,
          s"group $g p$p: est $est has rank $rank, target $target (n=$n)")
      }
    }
  }

  test("topKPer: each key's first k rows by (score, id), ranked from 1") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      // three score values make ties the rule, so the id tie-break
      // decides most places; key 0 has one row and key 1 two, fewer
      // than every k below except 1
      val sizes = Seq(1, 2) ++ Seq.fill(5)(3 + rnd.nextInt(20))
      val rows = sizes.zipWithIndex.flatMap { case (n, key) =>
        rnd.shuffle((0L until 40L).toList).take(n)
          .map(id => (key.toLong, id, rnd.nextInt(3).toDouble))
      }
      val df = rows.toDF("key", "id", "score")
      for (k <- Seq(1, 3, 7); desc <- Seq(false, true)) {
        val score = if (desc) col("score").desc else col("score")
        val ranked = SimilarityQueries.topKPer(df, Seq(col("key")),
          Seq(score, col("id")), k, "r")
        assert(ranked.schema("r").dataType ===
          org.apache.spark.sql.types.LongType)
        val got = ranked.select($"key", $"r", $"id")
          .as[(Long, Long, Long)].collect().toSeq.sorted
        val want = rows.groupBy(_._1).toSeq.flatMap { case (key, g) =>
          g.sortBy(t => (if (desc) -t._3 else t._3, t._2)).take(k)
            .zipWithIndex.map { case (t, i) => (key, i + 1L, t._2) }
        }.sorted
        assert(got === want, s"seed $seed, k $k, desc $desc")
      }
    }
  }

  test("lsh ann: recall >= 0.25 vs brute force while pruning >= 30%") {
    val brute = SimilarityQueries.qSimTopkBrute.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityQueries.qSimLshTopk.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.25, s"recall $recall")
  }

  test("pq ann: recall >= 0.5 vs brute force; planted near-copy is rank 1") {
    // corpus: the (M=32, K=64) split's measured recall is 0.70; assert
    // with margin (deterministic pipeline on fixed data — margin guards
    // only future parameter changes, not run noise)
    val brute = SimilarityQueries.qSimTopkBrute.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SimilarityQueries.qSimPqTopk.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(pq).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall")
    // a planted near-copy encodes to the SAME 32 codes, so its ADC
    // distance equals the query's own quantization floor — nothing can
    // rank above it, and ties break to the smaller id
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val base = vec()
    val rows = Seq((0L, base, 0), (21L, base.map(_ * 1.0001f), 0)) ++
      (22L until 200L).map(i => (i, vec(), 1))
    val dir = java.nio.file.Files.createTempDirectory("pqann").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val top1 = SimilarityQueries.qSimPqTopk.run(spark, dir)
      .filter($"qid" === 0L && $"rank" === 1L)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(top1 === Seq(21L), s"planted near-copy not rank 1: $top1")
  }

  test("sq8 ann: per-dimension quantization recalls >= 0.85 vs brute force") {
    // measured 0.94: SQ8's per-dimension error preserves ranking far
    // better than PQ's per-cell error — the documented spectrum
    // (SQ8 0.94 > PQ 0.70 > IVFADC 0.47) at 4×/8×/8×+pruned memory
    val brute = SimilarityQueries.qSimTopkBrute.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = SimilarityQueries.qSimSqTopk.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(sq).size.toDouble / brute.size
    assert(recall >= 0.85, s"recall $recall")
  }

  test("ivfpq ann: composed pruning still recalls >= 0.35 vs brute force") {
    // IVFADC scores only ~nprobe/k of the corpus from 32-code PQ
    // approximations; measured recall@5 is 0.47 here (0.52 at sf0.01)
    // — below PQ-alone's 0.70 by the IVF pruning, far above chance
    // (0.01). Margin guards parameter changes, not noise.
    val brute = SimilarityQueries.qSimTopkBrute.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = SimilarityQueries.qSimIvfPqTopk.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivfpq).size.toDouble / brute.size
    assert(recall >= 0.35, s"recall $recall")
  }

  test("ivfpq rerank: exact second tier recalls >= 0.9; ADC gap fully closed") {
    // the two-tier economics, decomposed. Unreranked IVFADC's 0.47 is
    // two losses stacked: (a) code quantization — ADC ranks from lossy
    // 32-code approximations — and (b) IVF pruning — a true neighbor
    // outside the probed lists can never re-enter. Rerank (exact
    // cosine over the top-50 ADC candidates from the ORIGINAL vectors)
    // eliminates (a) COMPLETELY: at the siblings' nprobe=4 its recall
    // equals exact-scoring the whole probe set (qSimIvfTopk, 0.50) —
    // measured equal, asserted equal. (b) is a probe-width knob: the
    // registered query runs the recall-oriented nprobe=14, measured
    // 0.96 ≥ 0.9 (most of 16 lists, because 500 random-geometry
    // vectors give IVF little cluster structure to exploit; clustered
    // production corpora reach the same target at nprobe/k ≪ 1). The
    // re-score cost is fixed at 50 exact distances per query either
    // way — that is the point of the tier split.
    val brute = SimilarityQueries.qSimTopkBrute.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(pairs: Set[(Long, Long)]): Double =
      brute.intersect(pairs).size.toDouble / brute.size
    val rr = SimilarityQueries.qSimIvfPqRerank.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recallOf(rr) >= 0.9, s"recall ${recallOf(rr)}")
    // gap (a) closed: rerank at nprobe=4 ≡ exact scoring of the same
    // probe set (the qSimIvfPqRerank run above already built the store)
    val e = SimilarityQueries.emb(spark, sf)
    val rr4 = VectorIndex.rerank(spark, "graft_vecindex_rr",
        e.filter($"vec_id" < 20), e, nprobe = 4)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfExact4 = SimilarityQueries.qSimIvfTopk.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recallOf(rr4) === recallOf(ivfExact4),
      s"rerank@4 ${recallOf(rr4)} vs ivf-exact@4 ${recallOf(ivfExact4)}")
  }

  test("residual coding measured: no recall gain under sample-based training") {
    // SURVEY documents non-residual PQ as a deliberate choice (codes
    // quantize the vector itself, keeping the stage-by-stage oracle
    // mirror); this spec turns the documented "recall cost is modest"
    // into a MEASURED number. Both coders run driver-side on the
    // fixture (500×64, trivially driver-sized) with the engine's
    // sampling rules: md5-ordered centroid/codebook samples, cosine
    // coarse assignment, nprobe=4 of 16 lists, 32×2-dim cells.
    // Measured here: non-residual 0.47 (exactly the engine's own
    // gated figure — cross-validating this reimplementation),
    // residual 0.41. Under the engine's SAMPLE-based codebook
    // training, residual coding LOSES six points on this corpus: the
    // random geometry leaves residuals as spread as the vectors, and
    // a codebook of 64 sampled residuals is worse-conditioned than 64
    // sampled vectors. The gain residual coding is known for (Jégou
    // et al. §IV) needs k-means-trained codebooks on clustered data —
    // a different training trade, not a free upgrade. Evidence the
    // engine ships the right second stage instead: the exact re-rank
    // tier takes the same candidates to 0.96.
    val raw = SimilarityQueries.emb(spark, sf)
      .select($"vec_id", $"v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val en = raw.view.mapValues(v => { val n = nrm(v); v.map(_ / n) }).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def mdOrder(ids: Iterable[Long]) =
      ids.toSeq.sortBy(id => (md5hex(id.toString), id))
    def l2sq(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // coarse: 16 md5-sampled centroids, cosine assignment (normalized
    // space: max cos = min L2), rank lists per query for nprobe=4
    val cents = mdOrder(en.keys).take(16).map(id => id -> en(id)).toMap
    def ranked(v: Array[Double]) = cents.toSeq
      .map { case (cid, cv) => (v.zip(cv).map(p => p._1 * p._2).sum, cid) }
      .sortBy { case (cos, cid) => (-cos, cid) }.map(_._2)
    val assign = en.view.mapValues(v => ranked(v).head).toMap
    val queries = en.keys.filter(_ < 20).toSeq
    val probes = queries.map(q => q -> ranked(en(q)).take(4)).toMap
    def cand(q: Long) =
      en.keys.filter(v => v != q && probes(q).contains(assign(v)))
    // brute truth
    val brute = queries.flatMap { q =>
      en.keys.filter(_ != q).toSeq
        .sortBy(v => (l2sq(en(q), en(v)), v)).take(5).map(q -> _)
    }.toSet
    def slice(v: Array[Double], m: Int) = v.slice(m * 2, m * 2 + 2)
    def encode(cb: Seq[Array[Double]], v: Array[Double]) =
      (0 until 32).map(m => cb.zipWithIndex
        .minBy { case (c, i) => (l2sq(slice(v, m), slice(c, m)), i) }._2)
    def adc(cb: Seq[Array[Double]], target: Array[Double],
        codes: Seq[Int]) =
      (0 until 32).map(m =>
        l2sq(slice(target, m), slice(cb(codes(m)), m))).sum
    def recall(top: Set[(Long, Long)]) =
      brute.intersect(top).size.toDouble / brute.size
    // A: non-residual (the shipped coder) — codebook samples vectors,
    // codes quantize vectors, one LUT per query
    val cbA = mdOrder(en.keys).take(64).map(en)
    val codesA = en.view.mapValues(encode(cbA, _)).toMap
    val topA = queries.flatMap { q =>
      cand(q).toSeq.sortBy(v => (adc(cbA, en(q), codesA(v)), v))
        .take(5).map(q -> _)
    }.toSet
    // B: residual — codebook samples RESIDUALS (v − assigned
    // centroid), codes quantize residuals, one LUT per (query, probed
    // list) from the query's residual wrt THAT list's centroid
    val res = en.map { case (id, v) =>
      id -> v.zip(cents(assign(id))).map(p => p._1 - p._2) }
    val cbB = mdOrder(en.keys).take(64).map(res)
    val codesB = res.view.mapValues(encode(cbB, _)).toMap
    val topB = queries.flatMap { q =>
      cand(q).toSeq.sortBy { v =>
        val target = en(q).zip(cents(assign(v))).map(p => p._1 - p._2)
        (adc(cbB, target, codesB(v)), v)
      }.take(5).map(q -> _)
    }.toSet
    val (ra, rb) = (recall(topA), recall(topB))
    info(f"non-residual recall@5 = $ra%.2f, residual = $rb%.2f")
    // the recorded trade-off: under sample-based training on this
    // corpus, residual coding buys NO recall (it measures below
    // non-residual) — the documented non-residual choice costs
    // nothing here. If a future corpus/training change flips this
    // materially, revisit the SURVEY trade-off.
    assert(ra === 0.47, f"non-residual drifted from the gated figure: $ra%.2f")
    assert(rb <= ra + 0.05,
      f"residual now buys recall ($ra%.2f → $rb%.2f) — revisit the " +
        "non-residual trade-off documented in SURVEY")
  }

  test("kmeans: training strictly improves the objective over the seed sample") {
    // Lloyd's guarantee made a test: total within-cluster distance
    // after two update iterations must beat assignment to the raw
    // md5-sampled seeds (computed independently driver-side on the
    // same integer micro-unit geometry the query uses)
    val trained = SimilarityQueries.qSimKmeans.run(spark, sf).collect()
      .map(_.getLong(2)).sum
    val vm = SimilarityQueries.emb(spark, sf)
      .selectExpr("vec_id",
        "transform(v, x -> cast(round(x * 1000000) as bigint)) vm")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def md5hex(x: String) = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val seeds = vm.keys.toSeq.sortBy(id => (md5hex(id.toString), id))
      .take(8).map(vm)
    val seedTotal = vm.values.map { v =>
      seeds.map(c => v.zip(c).map { case (a, b) =>
        (a - b) * (a - b) }.sum).min
    }.sum
    assert(trained < seedTotal,
      s"training must improve the objective: $trained vs seed $seedTotal")
    // and the trained quantizer pays off downstream: IVF probing the
    // trained k=8 cells at the SAME scan fraction as the sampled-IVF
    // query (2 of 8 lists = 4 of 16) recalls at least as much —
    // measured 0.53 vs 0.50 here, rising to 0.73 at 4 of 8 (balanced
    // cells cover neighborhoods better than sampled seeds even on
    // this nearly clusterless random-geometry corpus)
    val brute = SimilarityQueries.qSimTopkBrute.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sampled = SimilarityQueries.qSimIvfTopk.run(spark, sf)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val clusterOf = SimilarityQueries.qSimKmeans.run(spark, sf)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val en = SimilarityQueries.emb(spark, sf)
      .selectExpr("vec_id", "transform(v, x -> x / sqrt(nrm)) vn")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val cents = clusterOf.groupBy(_._2).map { case (c, m) =>
      val vs = m.keys.map(en).toSeq
      c -> vs.head.indices.map(i => vs.map(_(i)).sum / vs.size).toArray
    }
    val trainedIvf = (0L until 20L).flatMap { q =>
      val probes = cents.toSeq.sortBy { case (c, cv) => (l2(en(q), cv), c) }
        .take(2).map(_._1).toSet
      en.keys.filter(v => v != q && probes(clusterOf(v))).toSeq
        .sortBy(v => (l2(en(q), en(v)), v)).take(5).map(q -> _)
    }.toSet
    def recall(x: Set[(Long, Long)]) =
      brute.intersect(x).size.toDouble / brute.size
    assert(recall(trainedIvf) >= recall(sampled),
      s"trained IVF ${recall(trainedIvf)} vs sampled ${recall(sampled)}")
  }

  test("phash near-dup: planted identical payload surfaces at rank 1, hamming 0") {
    // byte-identical payloads must collide on every band and report
    // hamming 0 ahead of everything else; a lightly-edited twin must
    // also surface as a candidate (≥1 intact band) with small hamming
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val tmp = java.nio.file.Files.createTempDirectory("phash").toString
    Seq(
      (1L, base, "en", "src0", base.length.toLong),
      (2L, base, "en", "src0", base.length.toLong), // exact twin
      (3L, base.replace("lazy", "hazy"), "en", "src0", base.length.toLong),
      (4L, "completely different text about spark query engines and " +
        "distributed joins at scale with nothing shared", "en", "src1",
        107L),
      (5L, "yet another unrelated document mentioning parquet files " +
        "and shuffle partitions for good measure here", "en", "src1",
        104L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = MultimodalQueries.qMultimodalPhash.run(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.nonEmpty, "no candidate pairs at all")
    assert(out.head === ((1L, 1L, 2L, 0L)),
      s"rank-1 should be the exact twin at hamming 0: ${out.toSeq}")
    assert(out.exists(t => t._2 == 1L && t._3 == 3L),
      s"edited twin never surfaced as a candidate: ${out.toSeq}")
  }

  test("pq codes: native encoder matches the HOF formulation bit-for-bit") {
    // the corpus-side encode moved from higher-order functions to the
    // PqCodes loop for speed; this pins the two formulations to the
    // same codes on 300 random vectors (same slices, same sequential
    // accumulation, same micro-rounding, same tie-break) — the LUT
    // side still runs the HOF form, so divergence would silently skew
    // every ADC distance
    val rnd = new scala.util.Random(23)
    val rows = (0L until 300L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val e = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val cb = e.filter($"vec_id" < 64)
      .agg(expr(
        "transform(array_sort(collect_list(struct(vec_id, v))), c -> c.v)")
        .as("cs"))
    val withCs = e.crossJoin(broadcast(cb))
    val hofExpr = """transform(sequence(0, 31), m ->
        element_at(array_sort(transform(sequence(1, 64), k ->
          struct(cast(round(aggregate(zip_with(
            slice(v, m * 2 + 1, 2), slice(element_at(cs, k), m * 2 + 1, 2),
            (a, b) -> (a - b) * (a - b)),
            cast(0 as double), (acc, x) -> acc + x) * 1000000) as bigint)
            as d2m, k as k))), 1).k)"""
    def collectCodes(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val hof = collectCodes(withCs
      .select(col("vec_id"), expr(hofExpr).as("codes")))
    val native = collectCodes(withCs.select(col("vec_id"),
      graft.functions.VectorFunctions.pqCodes($"v", $"cs", 2).as("codes")))
    assert(native.size === 300)
    assert(native === hof)
  }

  test("pq codes: malformed inputs fail loudly with the function named") {
    def messages(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
    // vector length not a multiple of subDim: previously the trailing
    // dims silently dropped out of every distance
    val odd = Seq((1L, Array(1.0, 2.0, 3.0))).toDF("id", "v")
      .withColumn("cs", expr("array(array(1.0D, 2.0D, 3.0D))"))
    val e1 = intercept[Throwable] {
      odd.select(graft.functions.VectorFunctions.pqCodes($"v", $"cs", 2))
        .collect()
    }
    assert(messages(e1).exists(m => m.contains("graft_pq_codes") &&
      m.contains("multiple of subDim")), s"got: ${messages(e1)}")
    // codebook entry shorter than the vector: previously an opaque
    // executor-side ArrayIndexOutOfBoundsException
    val short = Seq((1L, Array(1.0, 2.0, 3.0, 4.0))).toDF("id", "v")
      .withColumn("cs", expr("array(array(1.0D, 2.0D))"))
    val e2 = intercept[Throwable] {
      short.select(graft.functions.VectorFunctions.pqCodes($"v", $"cs", 2))
        .collect()
    }
    assert(messages(e2).exists(m => m.contains("graft_pq_codes") &&
      m.contains("codebook entry")), s"got: ${messages(e2)}")
  }

  test("passage dedup: planted shared passage flagged, disjoint doc absent") {
    // docs 1 and 2 share a 10-word passage (→ 3 common distinct
    // 8-grams) inside otherwise disjoint text; doc 3 shares nothing
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fixtures = Seq(
      (1L, s"a1 b1 c1 d1 $passage e1 f1 g1 h1"),
      (2L, s"a2 b2 c2 d2 e2 $passage f2 g2 h2"),
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 m12 m13 m14"))
    val dir = java.nio.file.Files.createTempDirectory("passage").toString
    fixtures.toDF("doc_id", "text")
      .withColumn("lang", lit("?")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = DedupQueries.qDedupPassage.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet === Set(1L, 2L), s"flagged docs: ${out.keySet}")
    // 18-word docs carry 11 distinct 8-grams each; the 3 fully inside
    // the shared passage are the duplicated ones
    assert(out(1L) === ((11L, 3L)), s"doc 1 profile: ${out(1L)}")
    assert(out(2L) === ((11L, 3L)), s"doc 2 profile: ${out(2L)}")
  }

  test("passage span: doubling reports the longest shared run on the 8/16/32/64 grid") {
    // planted spans: a 20-token shared run must report 16 (true length
    // ∈ [16, 32) on the doubling grid), a 70-token run must report 64,
    // an 8-token run reports 8, and docs with no 8-gram overlap are
    // absent entirely. Offsets differ per doc — doubling composes
    // positions RELATIVE to each doc, so alignment must not matter.
    def toks(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val run20 = (0 until 20).map(i => s"r$i")
    val run70 = (0 until 70).map(i => s"s$i")
    val run8 = (0 until 8).map(i => s"t$i")
    val rows = Seq(
      1L -> (toks("a", 5) ++ run20 ++ toks("b", 9)),
      2L -> (toks("c", 11) ++ run20 ++ toks("d", 3)),
      3L -> (toks("e", 4) ++ run70),
      4L -> (run70 ++ toks("f", 6)),
      5L -> (toks("g", 7) ++ run8 ++ toks("h", 7)),
      6L -> (run8 ++ toks("i", 12)),
      7L -> toks("j", 40),
      8L -> toks("k", 40))
    val dir = java.nio.file.Files.createTempDirectory("span").toString
    rows.map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("doc_id", "text")
      .withColumn("lang", lit("?")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupQueries.qDedupPassageSpan.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map((1L, 2L) -> 16L, (3L, 4L) -> 64L, (5L, 6L) -> 8L),
      s"got: $got")
  }

  test("incremental dedup: batch-vs-corpus only — old↔old and new↔new invisible") {
    def txt(tag: String) = (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    val olds = (1L to 9L).map(i => (i, txt(s"o$i")))
    val fixtures = olds ++ Seq(
      (11L, txt("o1")),  // old↔old dup pair (1, 11) → absent
      (40L, txt("o7")),  // new doc duplicating old doc 7 → flagged
      (50L, txt("n50")), // unique new doc → absent
      (60L, txt("x")), (70L, txt("x"))) // new↔new dup pair → absent
    val dir = java.nio.file.Files.createTempDirectory("incdedup").toString
    fixtures.toDF("doc_id", "text")
      .withColumn("lang", lit("?")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = DedupQueries.qDedupIncremental.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // ONLY the contaminated new doc appears: the unique new doc has no
    // old match, and the new↔new / old↔old duplicate pairs never enter
    // the candidate space by construction
    assert(out.keySet === Set(40L), s"verdicts: $out")
    assert(out(40L) === ((1L, 7L, 1.0)), s"verdict for 40: ${out(40L)}")
  }

  test("screenBatch from foreachBatch: streaming ingest screens against a corpus") {
    // the production loop q_dedup_incremental models, actually run on
    // a stream: each micro-batch of arriving docs band-probes the
    // static corpus via the public two-frame API
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def txt(tag: String) = (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    val corpus = (1L to 9L).map(i => (i, txt(s"c$i"))).toDF("doc_id", "text")
    val found = scala.collection.mutable.Set[(Long, Long)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val (pairs, handles) = DedupQueries.screenBatch(corpus, b)
        val rows = QueryScopedCache.releaseAfter(pairs, handles).collect()
        found.synchronized {
          found ++= rows.map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }
      .start()
    in.addData((101L, txt("c7")), (102L, txt("fresh")))
    q.processAllAvailable()
    in.addData((103L, txt("c2")))
    q.processAllAvailable()
    q.stop()
    // batch dups against the corpus surface with corpus-side ids;
    // the unique doc stays silent
    assert(found.toSet === Set((7L, 101L), (2L, 103L)), s"found: $found")
  }

  test("signature store: screen probes stored tables, never the corpus source") {
    def txt(tag: String) = (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    (1L to 9L).map(i => (i, txt(s"c$i"))).toDF("doc_id", "text")
      .withColumn("lang", lit("?")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    SignatureStore.ingest(corpus, "sigstore_spec", buckets = 4)
    val batch = Seq((101L, txt("c7")), (102L, txt("fresh")))
      .toDF("doc_id", "text")
    val (pairs, handles) = SignatureStore.screen(spark, "sigstore_spec", batch)
    // THE stored-layout claim: the screen plan reads the store tables,
    // not the corpus source — the ingested text is never rescanned
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains(dir),
      s"screen must not rescan the corpus source:\n$plan")
    assert(plan.contains("sigstore_spec_signatures"),
      s"screen should probe the stored signature table:\n$plan")
    // the shingle/signature tables persisted bucketed (exchange paid
    // once at ingest, not per screen)
    Seq(StoreMeta.table(spark, "sigstore_spec", "shingles"),
        StoreMeta.table(spark, "sigstore_spec", "signatures")).foreach { tb =>
      val desc = spark.sql(s"DESCRIBE EXTENDED $tb").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc.get("Num Buckets").contains("4"), s"$tb not bucketed: $desc")
    }
    val rows = QueryScopedCache.releaseAfter(pairs, handles).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((7L, 101L)), s"pairs: $rows")
  }

  test("signature store: admitted batches join the screening corpus") {
    def txt(tag: String) = (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    val corpus = (1L to 9L).map(i => (i, txt(s"c$i"))).toDF("doc_id", "text")
    SignatureStore.ingest(corpus, "sigstore_admit", buckets = 4)
    val batch1 = Seq((101L, txt("fresh1"))).toDF("doc_id", "text")
    val (p1, h1) = SignatureStore.screen(spark, "sigstore_admit", batch1)
    assert(QueryScopedCache.releaseAfter(p1, h1).collect().isEmpty,
      "unique first batch must screen clean")
    SignatureStore.admit(spark, "sigstore_admit", batch1)
    // the second batch duplicates an ADMITTED doc and an original
    // corpus doc — both must surface now
    val batch2 = Seq((201L, txt("fresh1")), (202L, txt("c3")))
      .toDF("doc_id", "text")
    val (p2, h2) = SignatureStore.screen(spark, "sigstore_admit", batch2)
    val found = QueryScopedCache.releaseAfter(p2, h2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found === Set((101L, 201L), (3L, 202L)), s"found: $found")
    // appends must not degrade the bucketed layout
    val desc = spark.sql("DESCRIBE EXTENDED " +
        StoreMeta.table(spark, "sigstore_admit", "shingles"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("Num Buckets").contains("4"), s"bucketing lost: $desc")
  }

  test("signature store: the full daily loop runs on a stream (screen → admit per batch)") {
    // the production loop end to end: every micro-batch screens against
    // the store, keeps the clean docs, and ADMITS them — so a later
    // batch's dup of an earlier batch's doc is caught without any
    // corpus recompute between batches
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def txt(tag: String) = (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    val corpus = (1L to 9L).map(i => (i, txt(s"c$i"))).toDF("doc_id", "text")
    SignatureStore.ingest(corpus, "sigstore_loop", buckets = 4)
    val found = scala.collection.mutable.Set[(Long, Long)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val (pairs, handles) = SignatureStore.screen(spark, "sigstore_loop", b)
        val rows = QueryScopedCache.releaseAfter(pairs, handles).collect()
        found.synchronized {
          found ++= rows.map(r => (r.getLong(0), r.getLong(1)))
        }
        val dupIds = rows.map(_.getLong(1)).toSet
        SignatureStore.admit(spark, "sigstore_loop",
          b.filter(!col("doc_id").isin(dupIds.toSeq: _*)))
        ()
      }
      .start()
    in.addData((101L, txt("fresh")), (102L, txt("c4")))
    q.processAllAvailable()
    // 201 duplicates ADMITTED doc 101; 202 duplicates corpus doc 2;
    // 203 duplicates 102 — but 102 was a dup itself, NOT admitted, so
    // 203 must surface against the original corpus doc 4 instead
    in.addData((201L, txt("fresh")), (202L, txt("c2")), (203L, txt("c4")))
    q.processAllAvailable()
    q.stop()
    assert(found.toSet === Set((4L, 102L), (101L, 201L), (2L, 202L),
      (4L, 203L)), s"found: $found")
  }

  test("signature store: reingest refreshes geometry from stored fingerprints, never text") {
    def txt(tag: String, shared: Boolean) =
      (if (shared) "p0 p1 p2 " else "") +
        (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    // 15 docs share a 3-gram (df 15 > 10 → stopped at ingest), 15 unique
    val dir = java.nio.file.Files.createTempDirectory("resig").toString
    (1L to 30L).map(i => (i, txt(s"c$i", i <= 15))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")
    SignatureStore.ingest(corpus, "sigstore_re", buckets = 4)
    def stopCount() =
      spark.table(StoreMeta.table(spark, "sigstore_re", "stop")).count()
    val stop0 = stopCount()
    assert(stop0 >= 1, "fixture should stop the shared shingle at ingest")
    val batch = Seq((101L, txt("c20", shared = false))).toDF("doc_id", "text")
    def screenPairs() = {
      val (p, h) = SignatureStore.screen(spark, "sigstore_re", batch)
      QueryScopedCache.releaseAfter(p, h).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val before = screenPairs()
    assert(before.map(p => (p._1, p._2)) === Set((20L, 101L)), s"$before")
    // delete the corpus source BEFORE refreshing: the refresh must
    // succeed from stored fingerprints alone
    val hp = new org.apache.hadoop.fs.Path(dir)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    SignatureStore.reingest(spark, "sigstore_re")
    // undrifted corpus: the refresh is a no-op for stop set and screens
    // (stopCount() re-resolves: it now reads the NEW generation)
    assert(stopCount() === stop0)
    assert(screenPairs() === before,
      "undrifted refresh must screen identically")
  }

  test("signature store: reingest stops newly-common shingles after admits") {
    def txt(tag: String, shared: Boolean) =
      (if (shared) "p0 p1 p2 " else "") +
        (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    // 9 docs share a 3-gram: df 9 ≤ max(10, 0.05·9) → NOT stopped yet
    val corpus = (1L to 9L).map(i => (i, txt(s"c$i", shared = true)))
      .toDF("doc_id", "text")
    SignatureStore.ingest(corpus, "sigstore_drift", buckets = 4)
    def part(p: String) =
      spark.table(StoreMeta.table(spark, "sigstore_drift", p))
    assert(part("stop").count() === 0)
    val hShared = Seq("p0 p1 p2").toDF("sh")
      .select(DedupQueries.fingerprint($"sh")).first().getLong(0)
    assert(part("shingles").filter($"h" === hShared).count() === 9)
    // 6 admitted docs also carry it → df 15 of 15 docs > threshold 10
    SignatureStore.admit(spark, "sigstore_drift",
      (101L to 106L).map(i => (i, txt(s"a$i", shared = true)))
        .toDF("doc_id", "text"))
    SignatureStore.reingest(spark, "sigstore_drift")
    // the drifted shingle is now stopped and purged from the store
    // (part() re-resolves to the refreshed generation)
    assert(part("stop").filter($"h" === hShared).count() === 1)
    assert(part("shingles").filter($"h" === hShared).count() === 0)
    // screens under the refreshed geometry: sizes/signatures were
    // re-derived consistently, so an exact dup still scores 1.0
    val (p, hs) = SignatureStore.screen(spark, "sigstore_drift",
      Seq((201L, txt("a103", shared = true))).toDF("doc_id", "text"))
    val found = QueryScopedCache.releaseAfter(p, hs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(found === Set((103L, 201L, 1.0)), s"found: $found")
  }

  test("signature stores: prefixes coexist; reader racing re-ingest is always-consistent") {
    def txt(tag: String) = (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    val c1 = (1L to 9L).map(i => (i, txt(s"x$i"))).toDF("doc_id", "text")
    val c2 = (1L to 9L).map(i => (i, txt(s"y$i"))).toDF("doc_id", "text")
    SignatureStore.ingest(c1, "sigstore_two_a", buckets = 4)
    SignatureStore.ingest(c2, "sigstore_two_b", buckets = 4)
    def run(store: String, b: org.apache.spark.sql.DataFrame) = {
      val (p, h) = SignatureStore.screen(spark, store, b)
      QueryScopedCache.releaseAfter(p, h).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val bx = Seq((101L, txt("x3")), (102L, txt("y5"))).toDF("doc_id", "text")
    // two stores in one session answer from their own corpora only
    assert(run("sigstore_two_a", bx) === Set((3L, 101L)))
    assert(run("sigstore_two_b", bx) === Set((5L, 102L)))
    // a reader planned against the OLD generation while the store
    // re-ingests a different corpus: generation-suffixed tables + the
    // atomic pointer swap + keep-two retention mean the reader ALWAYS
    // completes, answering entirely from the generation it resolved —
    // never a failure, never a partial/blended answer
    val (stale, handles) = SignatureStore.screen(spark, "sigstore_two_a", bx)
    SignatureStore.ingest(c2, "sigstore_two_a", buckets = 4)
    val rows = QueryScopedCache.releaseAfter(stale, handles).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((3L, 101L)),
      s"racing reader must answer from its resolved generation: $rows")
    // the new generation serves fresh screens
    assert(run("sigstore_two_a", bx) === Set((5L, 102L)))
    // the keep-two bound: a reader lagging TWO refreshes loses its
    // generation (gen 1 is retired when gen 3 commits) — that reader
    // fails cleanly; one refresh behind remains fully readable
    val (lag, lagHandles) = SignatureStore.screen(spark, "sigstore_two_a", bx)
    SignatureStore.ingest(c1, "sigstore_two_a", buckets = 4) // gen 3
    assert(QueryScopedCache.releaseAfter(lag, lagHandles).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((5L, 102L)),
      "one-generation-behind reader must still answer")
  }

  test("signature store from foreachBatch: micro-batches screen without corpus recompute") {
    // the daily-ingest loop at production shape: signatures ingested
    // ONCE before the stream starts; every micro-batch computes only
    // its own signatures and probes the store
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def txt(tag: String) = (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    val corpus = (1L to 9L).map(i => (i, txt(s"c$i"))).toDF("doc_id", "text")
    SignatureStore.ingest(corpus, "sigstore_stream", buckets = 4)
    val found = scala.collection.mutable.Set[(Long, Long)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val (pairs, handles) =
          SignatureStore.screen(spark, "sigstore_stream", b)
        val rows = QueryScopedCache.releaseAfter(pairs, handles).collect()
        found.synchronized {
          found ++= rows.map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }
      .start()
    in.addData((101L, txt("c7")), (102L, txt("fresh")))
    q.processAllAvailable()
    in.addData((103L, txt("c2")))
    q.processAllAvailable()
    q.stop()
    assert(found.toSet === Set((7L, 101L), (2L, 103L)), s"found: $found")
  }

  test("bpe: learnMerges reproduces the hand-computed merge sequence") {
    // corpus = "aaab aaab ab": vocab {aaab: 2, ab: 1}
    //  state 0: [a,a,a,b]×2 [a,b]×1 → pairs (a,a): 2·2=4, (a,b): 2+1=3
    //    → merge 1 = (a,a) count 4
    //  state 1: [aa,a,b]×2 [a,b]×1 (greedy left-to-right: aaa → aa,a)
    //    → pairs (aa,a): 2, (a,b): 3 → merge 2 = (a,b) count 3
    //  state 2: [aa,ab]×2 [ab]×1 → pairs (aa,ab): 2
    //    → merge 3 = (aa,ab) count 2
    val d = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val merges = TextQueries.learnMerges(d, 3)
    assert(merges === Seq((1, "a", "a", 4L), (2, "a", "b", 3L),
      (3, "aa", "ab", 2L)), s"merges: $merges")
    // exhaustion: after merge 3 both words are single symbols ([aaab],
    // [ab]) — no adjacent pairs remain, so the loop stops early
    val all = TextQueries.learnMerges(d, 10)
    assert(all === merges, s"all: $all")
  }

  test("bpe: encodeWithMerges replays learned merges identically at inference") {
    val d = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val merges = TextQueries.learnMerges(d, 3)
    // training-time states (hand-computed in the learnMerges spec)
    // predict: "aaab" → [aaab] after all 3 merges, "ab" → [ab]
    val enc = TextQueries.encodeWithMerges(
      Seq((7L, "aaab ab ba")).toDF("doc_id", "text"), merges)
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"the merge-chain replay must stay a narrow map-only stage:\n$plan")
    val toks = enc.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3))).sorted.toList
    // "ba" never merges: (b,a) was not learned — order matters in BPE
    assert(toks === List((0L, 0L, "aaab"), (1L, 0L, "ab"),
      (2L, 0L, "b"), (2L, 1L, "a")), s"tokens: $toks")
  }

  test("tokenize: ids follow frequency order, beyond-top-100 maps to 0") {
    // 100 words ×2 fill the vocabulary (ids by count DESC, token ASC
    // → w000=1 … w099=100); a singleton ranks 101st → OOV id 0
    val common = (0 until 100).map(i => f"w$i%03d")
    val fixtures = Seq(
      (1L, (common ++ common).mkString(" ")),
      (2L, s"${common(7)} rare ${common(0)}"))
    val dir = java.nio.file.Files.createTempDirectory("tok").toString
    fixtures.toDF("doc_id", "text")
      .withColumn("lang", lit("?")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PrepQueries.qPrepTokenize.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // counts: w000=3, w007=3 (the doc-2 extras), the rest 2, rare=1 —
    // so ids: w000=1, w007=2, w001=3, …, and rare ranks 101st
    assert(out((1L, 0L)) === 1L, "w000 → id 1 (count 3, first by text)")
    assert(out((2L, 0L)) === 2L, "w007 → id 2 (count 3, second by text)")
    assert(out((2L, 1L)) === 0L, "101st-ranked singleton → OOV id 0")
    assert(out((2L, 2L)) === 1L)
  }

  test("bpe pairs: hand-computed weighted pair counts") {
    // words: aaab ×2, ab ×1, ba ×1. In-word pairs: aaab → aa,aa,ab —
    // the repeated 'aa' within one word must count twice (position
    // enumeration, not distinct pairs). Weighted totals:
    // aa = 2×2 = 4, ab = 2×1 + 1 = 3, ba = 1.
    val fixtures = Seq((1L, "aaab ab aaab"), (2L, "ba"))
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString
    fixtures.toDF("doc_id", "text")
      .withColumn("lang", lit("?")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.qTextBpePairs.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("aa", 4L), ("ab", 3L), ("ba", 1L)), s"got $out")
  }

  test("lsh geometry scales bucket space with the corpus") {
    import DedupQueries.lshGeometry
    // fixture corpora: sf0.01 (500), sf0.1 (2000), sf1 (20000), and a
    // 10× beyond — bits-per-band widen so 2^r tracks ⌈n/8⌉; bands are
    // one long EACH (multi-long signature), so b grows with r
    // (⌈r/4⌉+1) to hold recall instead of shrinking to fit a word
    assert(lshGeometry(500L) === ((7, 8)))
    assert(lshGeometry(2000L) === ((7, 8)))
    assert(lshGeometry(20000L) === ((5, 12)))
    assert(lshGeometry(200000L) === ((5, 15)))
    // past the old single-long frontier: r keeps tracking the corpus
    // and b keeps growing — 10⁹ vectors get 8×27 (216 bits, 4+ longs)
    assert(lshGeometry(1000000000L) === ((8, 27)))
    assert(lshGeometry(8L * (1L << 30)) === ((9, 30)))
    var prevR = 0
    Seq(100L, 1000L, 10000L, 100000L, 1000000L, 100000000L,
      1000000000L, 100000000000L).foreach { n =>
      val (b, r) = lshGeometry(n)
      assert((1L << r) >= (n + 7) / 8 || r == 62,
        s"bucket space 2^$r lags corpus $n")
      assert(r >= prevR, s"r must be monotone in n (got $r after $prevR)")
      prevR = r
      assert(b >= 4 || 60 / r >= 2, s"($b, $r) too few bands")
      assert(r <= 62 && b >= 2, s"($b, $r) breaks a band's long width")
      // recall@cos 0.99 must hold ≥ 0.90 at every grid size (the
      // multi-long deliverable; the packed rule read 0.49 at 1e9)
      val p99 = 0.9549465863555878
      val recall = 1.0 - math.pow(1.0 - math.pow(p99, r.toDouble), b.toDouble)
      assert(recall >= 0.90, s"recall@0.99 at n=$n: $recall under 0.90")
    }
    // the planner query's IN-ENGINE integer rule must equal the Scala
    // rule row for row (the oracle mirrors the same arithmetic, so
    // this pins all three implementations together)
    DedupQueries.qDedupLshGeometry.run(spark, sf).collect().foreach { row =>
      val (b, r) = lshGeometry(row.getLong(0))
      assert(row.getInt(1) === r && row.getLong(2) === b.toLong,
        s"planner row ${row.getLong(0)} disagrees with lshGeometry")
    }
  }

  test("lsh embedding dedup: agrees with exact in-block; finds planted dups") {
    // corpus: any emitted in-block pair must agree with the exact query
    val exact = DedupQueries.qDedupEmbedding.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = DedupQueries.qDedupEmbeddingLsh.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.filter { case ((a, b), _) => a < 1000 && b < 1000 }.foreach {
      case (pair, cos) =>
        assert(exact.get(pair).contains(cos),
          s"pair $pair: lsh=$cos exact=${exact.get(pair)}")
    }
    // planted near-identical vectors MUST be recovered (cos≈1 → every
    // sign bit agrees → all bands collide)
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val base1 = vec(); val base2 = vec()
    def jitter(v: Array[Float]): Array[Float] = v.map(_ * 1.0001f)
    val rows = Seq(
      (0L, base1, 0), (1L, jitter(base1), 0),
      (2L, base2, 1), (3L, jitter(base2), 1)) ++
      (4L until 200L).map(i => (i, vec(), 2))
    val dir = java.nio.file.Files.createTempDirectory("lshdup").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val found = DedupQueries.qDedupEmbeddingLsh.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((0L, 1L)) && found.contains((2L, 3L)),
      s"planted dup pairs missing from $found")
  }

  test("scaled lsh geometry: recall at the dedup operating point, 20k corpus") {
    // The corpus-scaled geometry trades moderate-cosine recall for
    // linear candidates (q_dedup_lsh_recall measures that); this spec
    // pins the OPERATING POINT a dedup actually keys on, at the
    // 20k-corpus geometry (5 bands × 12 bits — asserted, so a
    // geometry change re-justifies these numbers): planted pairs at
    // cos ≈ 0.995 (true dups) must recover near-completely
    // (S-curve: 1−(1−p^12)^5 ≈ 0.996 per pair), and pairs at
    // cos = 0.9 must land inside the S-curve's ~0.57 band — the
    // measured, deterministic record of what the geometry keeps.
    import DedupQueries.lshGeometry
    val rnd = new scala.util.Random(23)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    // v2 = cosθ·u + sinθ·w with w ⊥ u (Gram–Schmidt) ⇒ cos(u,v2)=cosθ
    def pairAt(cos: Double): (Array[Double], Array[Double]) = {
      val u = unit()
      val raw = unit()
      val d = raw.indices.map(i => raw(i) * u(i)).sum
      val w0 = raw.indices.map(i => raw(i) - d * u(i)).toArray
      val wn = math.sqrt(w0.map(x => x * x).sum)
      val w = w0.map(_ / wn)
      val s = math.sqrt(1 - cos * cos)
      (u, u.indices.map(i => cos * u(i) + s * w(i)).toArray)
    }
    val noise = (0L until 20000L).map(i =>
      (i, unit().map(_.toFloat)))
    val dups = (0 until 30).map { k =>
      val (a, b) = pairAt(0.995)
      Seq((100000L + 2 * k, a.map(_.toFloat)),
        (100001L + 2 * k, b.map(_.toFloat)))
    }.flatten
    val sims = (0 until 40).map { k =>
      val (a, b) = pairAt(0.9)
      Seq((200000L + 2 * k, a.map(_.toFloat)),
        (200001L + 2 * k, b.map(_.toFloat)))
    }.flatten
    assert(lshGeometry(20140L) === ((5, 12)), "geometry drifted — re-justify")
    val dir = java.nio.file.Files.createTempDirectory("lshop").toString
    (noise ++ dups ++ sims).toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val found = DedupQueries.qDedupEmbeddingLsh.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dupHits = (0 until 30).count(k =>
      found.contains((100000L + 2 * k, 100001L + 2 * k)))
    val simHits = (0 until 40).count(k =>
      found.contains((200000L + 2 * k, 200001L + 2 * k)))
    assert(dupHits >= 28, s"cos 0.995 recall collapsed: $dupHits/30")
    assert(simHits >= 12 && simHits <= 34,
      s"cos 0.9 recall off the S-curve band: $simHits/40")
  }

  test("embedding store: the full daily loop runs on a stream (screen → admit per batch)") {
    // the embedding-side production loop end to end, mirroring the
    // lexical signature-store stream spec: every micro-batch screens
    // against the store under FROZEN geometry, keeps the clean
    // vectors, and ADMITS them — a later batch's near-dup of an
    // earlier batch's vector is caught without recomputing a single
    // corpus signature between batches
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(41)
    def vec(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def jitter(v: Array[Float]): Array[Float] = v.map(_ * 1.0001f)
    val base = (1L to 9L).map(i => (i, vec()))
    EmbeddingSignatureStore.ingest(
      base.toDF("vec_id", "embedding"), "embstore_loop", buckets = 4)
    val v4 = base(3)._2
    val found = scala.collection.mutable.Set[(Long, Long)]()
    val in = MemoryStream[(Long, Array[Float])]
    val fresh = vec()
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val (pairs, handles) =
          EmbeddingSignatureStore.screen(spark, "embstore_loop", b)
        val rows = QueryScopedCache.releaseAfter(pairs, handles).collect()
        found.synchronized {
          found ++= rows.map(r => (r.getLong(0), r.getLong(1)))
        }
        val dupIds = rows.map(_.getLong(1)).toSet
        EmbeddingSignatureStore.admit(spark, "embstore_loop",
          b.filter(!col("vec_id").isin(dupIds.toSeq: _*)))
        ()
      }
      .start()
    in.addData((101L, fresh), (102L, jitter(v4)))
    q.processAllAvailable()
    // 201 duplicates ADMITTED vector 101; 202 duplicates corpus vector
    // 2; 203 duplicates 102 — but 102 was a dup itself, NOT admitted,
    // so 203 must surface against the original corpus vector 4
    in.addData((201L, jitter(fresh)), (202L, jitter(base(1)._2)),
      (203L, jitter(jitter(v4))))
    q.processAllAvailable()
    q.stop()
    assert(found.toSet === Set((4L, 102L), (101L, 201L), (2L, 202L),
      (4L, 203L)), s"found: $found")
  }

  test("embedding store: frozen geometry survives admits; reingest re-keys at the boundary") {
    // THE drift contract that makes the persisted store necessary: the
    // inline query derives (b, r) from a live corpus count, so a corpus
    // grown past ⌈n/8⌉ > 2^r would silently re-band between runs. The
    // store must (1) keep the ingest-time geometry through admits that
    // CROSS the boundary, and (2) change banding only through an
    // explicit reingest — after which stored state must agree with the
    // inline query run at the grown corpus's geometry, row for row.
    import DedupQueries.lshGeometry
    val rnd = new scala.util.Random(59)
    def vec(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def jitter(v: Array[Float]): Array[Float] = v.map(_ * 1.0001f)
    val corpus = (0L until 500L).map(i => (i, vec()))
    val admits = (1000L until 2700L).map(i => (i, vec()))
    EmbeddingSignatureStore.ingest(
      corpus.toDF("vec_id", "embedding"), "embstore_geo", buckets = 4)
    def geo() = EmbeddingSignatureStore.geometry(spark, "embstore_geo",
      StoreMeta.genOrFail(spark, "embstore_geo"))
    assert(geo() === ((7, 8)), "ingest-time geometry for n=500")
    EmbeddingSignatureStore.admit(spark, "embstore_geo",
      admits.toDF("vec_id", "embedding"))
    // the grown corpus is PAST the boundary: a live derivation would
    // now band differently — the store must not
    assert(lshGeometry(2200L) === ((6, 9)), "fixture must cross r 8→9")
    assert(geo() === ((7, 8)), "admit silently changed frozen geometry")
    // frozen-geometry screen still catches a dup of an ADMITTED vector
    // (its stored bands were written under the same frozen (b, r))
    val probe = Seq((9001L, jitter(admits.head._2)))
      .toDF("vec_id", "embedding")
    val (p1, h1) = EmbeddingSignatureStore.screen(spark, "embstore_geo", probe)
    val hits1 = QueryScopedCache.releaseAfter(p1, h1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits1.contains((1000L, 9001L)), s"frozen-geometry screen: $hits1")
    // reingest: the ONE sanctioned re-keying — from stored vectors, no
    // source re-read; geometry now matches the grown corpus
    EmbeddingSignatureStore.reingest(spark, "embstore_geo")
    assert(geo() === ((6, 9)), "reingest must adopt the grown geometry")
    // stored pairs after re-key == the inline query run on the same
    // union corpus (which derives (6, 9) from its live count of 2200)
    val dir = java.nio.file.Files.createTempDirectory("embgeo").toString
    (corpus ++ admits).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val inline = DedupQueries.qDedupEmbeddingLsh.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stored = EmbeddingSignatureStore.selfPairs(spark, "embstore_geo")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored === inline,
      s"re-keyed store diverges from inline: ${stored.diff(inline)} / ${inline.diff(stored)}")
  }

  test("heavy hitters: exact regime matches groupBy; eviction regime overestimates") {
    // Exact regime (capacity 64 > vocab 31, the registered query):
    // output must equal the exact top-20 frequency table.
    val hh = TextQueries.qHeavyHitters.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val truth = Tables(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactTop = truth.toSeq.sortBy { case (t, n) => (-n, t) }.take(20)
    assert(hh.map(r => (r._2, r._3)).toSeq === exactTop)
    assert(hh.map(_._1).toSeq === (1L to 20L))
    // Eviction regime (capacity 16 < vocab 31): bounded buffer, and
    // every surviving estimate must OVERestimate its true count — the
    // SpaceSaving invariant that makes the sketch trustworthy for
    // "count is at least X" style answers.
    val toks = Tables(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("tok")).as[String]
    val sk = toks.select(graft.operators.HeavyHitters.spaceSaving(16)).head()
    assert(sk.size <= 16)
    sk.foreach { case (tok, est) =>
      assert(est >= truth(tok), s"$tok: est $est < true ${truth(tok)}")
    }
  }

  test("semantic dedup: planted paraphrases pruned; keep rule matches brute force") {
    // Planted pairs: v and 1.0001*v have cosine exactly 1 (uniform
    // scaling), land in the same coarse cluster, and the higher id must
    // be pruned. Fill with random vectors (cos concentrates near 0 at
    // 64 dims, far below the 0.4 threshold; seed fixed → deterministic).
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val planted = (0 until 4).flatMap { i =>
      val v = vec()
      Seq((2L * i, v), (2L * i + 1, v.map(_ * 1.0001f)))
    }
    val rows = planted ++ (8L until 200L).map(i => (i, vec()))
    val dir = java.nio.file.Files.createTempDirectory("semdedup").toString
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = DedupQueries.qDedupSemantic.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length === 200)
    val cid = out.map(r => r._1 -> r._2).toMap
    val keep = out.map(r => r._1 -> r._3).toMap
    (0 until 4).foreach { i =>
      assert(cid(2L * i) === cid(2L * i + 1), s"pair $i split across clusters")
      assert(keep(2L * i) && !keep(2L * i + 1),
        s"pair $i: the jittered copy (higher id) must be the pruned one")
    }
    // Given the query's own cluster assignment, the keep rule must
    // equal the brute-forced greedy-by-min-id rule over all
    // intra-cluster pairs (same sequential-double cosine).
    val vm = rows.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until 64).foreach { i =>
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expectedPruned = (for {
      b <- vm.keys
      a <- vm.keys
      if a < b && cid(a) == cid(b) && cos(vm(a), vm(b)) >= 0.4
    } yield b).toSet
    assert(out.filter(!_._3).map(_._1).toSet === expectedPruned)
  }

  test("semantic dedup: salt-split and k knobs are lossless vs the plain self-join") {
    // the hot-cluster salt decomposition must find EXACTLY the same
    // intra-cluster pairs (every pair meets at exactly one of the g²
    // salted keys), and k must flow through to the assignment
    val e = SimilarityQueries.emb(spark, sf)
    def run(k: Int, g: Int) = {
      val (res, handles) = DedupQueries.semanticDedup(e, k = k, saltGroups = g)
      val rows = QueryScopedCache.releaseAfter(res, handles).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      rows
    }
    val plain = run(8, 1)
    assert(run(8, 4) === plain, "salt-split changed the result")
    // k flows through to the assignment: at most k distinct clusters
    val cids = plain.map(_._2)
    assert(cids.size <= 8 && cids.size >= 2, s"k=8 clustering: $cids")
    // and the registered query's k=16 default is a different clustering
    assert(run(16, 1).map(_._2).size > cids.size)
  }

  test("adc score: native expression matches the HOF formulation bit-for-bit") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 50).map { i =>
      val codes = Array.fill(32)(rnd.nextInt(64) + 1) // 1-based positions
      val lut = Array.fill(32)(Array.fill(64)(rnd.nextLong() % 1000000L))
      (i.toLong, codes, lut)
    }
    val both = rows.toDF("id", "codes", "lut").select($"id",
        graft.functions.VectorFunctions.adcScore($"codes", $"lut")
          .as("native"),
        expr("""aggregate(zip_with(codes, lut, (c, r) -> element_at(r, c)),
                cast(0 as bigint), (acc, x) -> acc + x)""").as("hof"))
      .collect()
    both.foreach(r =>
      assert(r.getLong(1) === r.getLong(2), s"row ${r.getLong(0)}"))
    // an out-of-range code fails loudly with the expression's name,
    // never an anonymous executor AIOOBE
    val bad = Seq((1L, Array(65), Array(Array(1L, 2L))))
      .toDF("id", "codes", "lut")
    val ex = intercept[Exception] {
      bad.select(graft.functions.VectorFunctions.adcScore($"codes", $"lut"))
        .collect()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(messages.contains("graft_adc_score"), messages)
  }

  test("native expressions reject wrong-typed inputs at analysis time") {
    // each expression's ArrayData accessors (getDouble/getInt/getLong)
    // would misread or ClassCastException on the executor for a
    // wrong-typed column; checkInputDataTypes must catch it in analysis
    import org.apache.spark.sql.AnalysisException
    val df = Seq((Array(1L, 2L), Array(Array(1.5, 2.5))))
      .toDF("longs", "dblmat")
    def analysisMsg(c: org.apache.spark.sql.Column): String = {
      val ex = intercept[AnalysisException](df.select(c).collect())
      ex.getMessage
    }
    import graft.functions.VectorFunctions._
    assert(analysisMsg(dot($"longs", $"longs")).contains("graft_dot"))
    assert(analysisMsg(lshSignature($"longs", 16))
      .contains("graft_lsh_sig"))
    assert(analysisMsg(pqCodes($"longs", $"dblmat", 2))
      .contains("graft_pq_codes"))
    // array<bigint> codes (not array<int>) and array<array<double>>
    // LUT rows (not bigint) — the exact miscast classes from advice
    assert(analysisMsg(adcScore($"longs", $"dblmat"))
      .contains("graft_adc_score"))
  }

  test("vector index: external queries search the stored tables, never the corpus source") {
    val e = SimilarityQueries.emb(spark, sf)
    VectorIndex.ingest(e, "vecindex_spec", buckets = 4)
    // query vectors that never touched the corpus parquet: the whole
    // corpus side of the search must come from the stored tables
    val dim = e.select(size($"v")).first().getInt(0)
    val qs = Seq((9001L, Array.fill(dim)(0.25)),
        (9002L, (0 until dim).map(i => if (i % 2 == 0) 1.0 else -1.0).toArray))
      .toDF("vec_id", "v")
      .withColumn("nrm",
        expr("aggregate(v, cast(0 as double), (a, x) -> a + x * x)"))
    val res = VectorIndex.search(spark, "vecindex_spec", qs, topk = 3)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"),
      s"search must not scan the corpus source:\n$plan")
    assert(plan.contains("vecindex_spec_codes"),
      s"search should probe the stored codes table:\n$plan")
    val rows = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // each query gets a full top-k, ranked by ascending ADC distance
    Seq(9001L, 9002L).foreach { q =>
      val mine = rows.filter(_._1 == q).sortBy(_._2)
      assert(mine.map(_._2).toSeq === Seq(1L, 2L, 3L), s"ranks for $q: $mine")
      assert(mine.map(_._4).toSeq == mine.map(_._4).sorted.toSeq,
        s"approx_l2 not ascending for $q: $mine")
    }
  }

  test("vector index: admit appends under frozen geometry, search ≡ full re-ingest") {
    val e = SimilarityQueries.emb(spark, sf)
    // pick a batch whose ids sit OUTSIDE the md5-ordered top-64 sample
    // of corpus ∪ batch: corpus-only ingest then derives the SAME
    // centroids/codebook a full re-ingest over corpus ∪ batch would —
    // the equal-geometry premise under which admit claims identity
    // (and ≥ 20 so the query set below stays corpus-side)
    val ordered = e.orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .select($"vec_id").collect().map(_.getLong(0))
    val batchIds = ordered.drop(64).filter(_ >= 20L).take(7).toSet
    val corpus = e.filter(!$"vec_id".isInCollection(batchIds))
    val batch = e.filter($"vec_id".isInCollection(batchIds))
    VectorIndex.ingest(corpus, "vecidx_adm_a", buckets = 4)
    VectorIndex.admit(spark, "vecidx_adm_a", batch)
    VectorIndex.ingest(e, "vecidx_adm_b", buckets = 4)
    // admit's coarse assignment + PQ encoding must be bit-identical to
    // what a full ingest computes for the same vectors
    def codes(tb: String) = spark.table(tb)
      .filter($"vec_id".isInCollection(batchIds)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    val admitted = codes(StoreMeta.table(spark, "vecidx_adm_a", "codes"))
    assert(admitted.nonEmpty &&
      admitted === codes(StoreMeta.table(spark, "vecidx_adm_b", "codes")),
      "admitted codes diverge from full-ingest codes")
    val qs = e.filter($"vec_id" < 20)
    def res(st: String) = VectorIndex.search(spark, st, qs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(res("vecidx_adm_a") === res("vecidx_adm_b"),
      "search after admit diverges from search after full re-ingest")
    // the append must not degrade the ingest-time bucketed layout
    val desc = spark.sql("DESCRIBE EXTENDED " +
        StoreMeta.table(spark, "vecidx_adm_a", "codes")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("Num Buckets").contains("4"), s"bucketing lost: $desc")
  }

  test("vector index: foreachBatch admits are searchable from the outer session") {
    // the ANN daily loop with the session-cache pitfall the signature
    // store hit: admit runs on the micro-batch CLONE session, search
    // on the outer one — without admit's refreshTable the outer
    // session's cached file index would never see the appended codes
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = SimilarityQueries.emb(spark, sf)
    VectorIndex.ingest(e.filter($"vec_id" <= 400), "vecidx_loop", buckets = 4)
    val in = MemoryStream[Long]
    val q = in.toDS().toDF("src_id").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        // arriving vectors: known embeddings under fresh ids
        val batch = b.join(e, b("src_id") === e("vec_id"))
          .select(($"src_id" + 10000L).as("vec_id"), $"v", $"nrm")
        VectorIndex.admit(spark, "vecidx_loop", batch)
        ()
      }
      .start()
    in.addData(450L)
    q.processAllAvailable()
    q.stop()
    // query with vec 450's exact vector under an external id: the
    // admitted twin (10450) must appear among its neighbors
    val qs = e.filter($"vec_id" === 450L)
      .select(lit(9001L).as("vec_id"), $"v", $"nrm")
    val neighbors = VectorIndex.search(spark, "vecidx_loop", qs)
      .collect().map(_.getLong(2)).toSet
    assert(neighbors.contains(10450L),
      s"admitted vector invisible to the outer session: $neighbors")
  }

  test("store migrate: a legacy unsuffixed layout upgrades in place") {
    def txt(tag: String) = (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    val corpus = (1L to 9L).map(i => (i, txt(s"c$i"))).toDF("doc_id", "text")
    // devolve to the exact legacy layout: unsuffixed marked part
    // tables, no meta (what a pre-generation store left on disk)
    def devolve(store: String, parts: Seq[String]): Unit = {
      parts.foreach(p => spark.sql(
        s"ALTER TABLE ${store}_${p}_g1 RENAME TO ${store}_$p"))
      spark.sql(s"DROP TABLE ${store}_meta")
    }
    def buckets(table: String) = spark.sql(s"DESCRIBE EXTENDED $table")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      .get("Num Buckets")
    SignatureStore.ingest(corpus, "sigstore_leg", buckets = 4)
    devolve("sigstore_leg", SignatureStore.parts)
    // screens against the devolved store must fail loudly, with the
    // migrate pointer in the message
    val ex = intercept[IllegalStateException] {
      SignatureStore.screen(spark, "sigstore_leg",
        Seq((101L, txt("c3"))).toDF("doc_id", "text"))
    }
    assert(ex.getMessage.contains("migrate"), ex.getMessage)
    SignatureStore.migrate(spark, "sigstore_leg")
    // migrated store serves screens; bucketing survived the renames
    val (p, h) = SignatureStore.screen(spark, "sigstore_leg",
      Seq((101L, txt("c3"))).toDF("doc_id", "text"))
    assert(QueryScopedCache.releaseAfter(p, h).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((3L, 101L)))
    assert(buckets(StoreMeta.table(spark, "sigstore_leg", "shingles"))
      .contains("4"), "bucketing lost")
    // and the upgraded store refreshes like a native one
    SignatureStore.reingest(spark, "sigstore_leg")
    assert(StoreMeta.gen(spark, "sigstore_leg").contains(2L))
    // the text and vector indexes migrate through the same skeleton:
    // the upgraded store answers exactly as before the devolve, keeps
    // its recorded document count and bucketing, and refreshes
    TextIndex.ingest(corpus, "textidx_leg", buckets = 4)
    def textHits() = TextIndex.search(spark, "textidx_leg",
      TextIndex.derivedQueries(spark, "textidx_leg")).collect().toSeq
    val textBefore = textHits()
    devolve("textidx_leg", TextIndex.parts)
    TextIndex.migrate(spark, "textidx_leg")
    assert(StoreMeta.gen(spark, "textidx_leg").contains(1L))
    assert(StoreMeta.docCount(spark, "textidx_leg").contains(9L))
    assert(buckets(StoreMeta.table(spark, "textidx_leg", "post"))
      .contains("4"), "bucketing lost")
    assert(textHits() === textBefore)
    TextIndex.reingest(spark, "textidx_leg")
    assert(textHits() === textBefore)
    val e = SimilarityQueries.emb(spark, sf).filter($"vec_id" <= 200)
    VectorIndex.ingest(e, "vecidx_leg", buckets = 4)
    def annHits() = VectorIndex.search(spark, "vecidx_leg",
      e.filter($"vec_id" < 10)).collect().toSeq
    val annBefore = annHits()
    devolve("vecidx_leg", VectorIndex.parts)
    VectorIndex.migrate(spark, "vecidx_leg")
    assert(StoreMeta.gen(spark, "vecidx_leg").contains(1L))
    assert(buckets(StoreMeta.table(spark, "vecidx_leg", "codes"))
      .contains("4"), "bucketing lost")
    assert(annHits() === annBefore)
    VectorIndex.reingest(spark, "vecidx_leg", e)
    assert(annHits() === annBefore)
    // migrate validates BEFORE renaming: a squatting _g1 target stops
    // the whole migration with nothing renamed (no stranded layouts)
    SignatureStore.ingest(corpus, "sigstore_leg2", buckets = 4)
    devolve("sigstore_leg2", SignatureStore.parts)
    Seq((1L, "squat")).toDF("k", "v")
      .write.format("parquet").saveAsTable("sigstore_leg2_sizes_g1")
    val ex2 = intercept[IllegalStateException] {
      SignatureStore.migrate(spark, "sigstore_leg2")
    }
    assert(ex2.getMessage.contains("sigstore_leg2_sizes_g1"), ex2.getMessage)
    // nothing was renamed — every legacy table is still in place
    SignatureStore.parts.foreach(p =>
      assert(spark.catalog.tableExists(s"sigstore_leg2_$p"),
        s"legacy sigstore_leg2_$p must survive the refused migrate"))
  }

  test("vector index: reingest takes the originals explicitly; racing search is always-consistent") {
    // the drift-contract asymmetry with SignatureStore.reingest: PQ
    // codes are lossy, so geometry refresh NEEDS the original
    // embeddings — the signature makes that re-read explicit
    val e = SimilarityQueries.emb(spark, sf)
    VectorIndex.ingest(e.filter($"vec_id" <= 300), "vecidx_re",
      buckets = 4)
    val qs = e.filter($"vec_id" < 20)
    val before = VectorIndex.search(spark, "vecidx_re", qs)
    // a search planned against generation 1 while reingest (with a
    // GROWN retained-embeddings table) commits generation 2: the
    // racing reader completes, entirely from generation 1
    VectorIndex.reingest(spark, "vecidx_re", e)
    val raced = before.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(raced.nonEmpty, "racing search must complete")
    assert(StoreMeta.gen(spark, "vecidx_re").contains(2L))
    // the refreshed geometry serves fresh searches over the full
    // corpus, preserving the stored k and bucket layout
    val after = VectorIndex.search(spark, "vecidx_re", qs).collect()
    assert(after.nonEmpty)
    val desc = spark.sql("DESCRIBE EXTENDED " +
        StoreMeta.table(spark, "vecidx_re", "codes")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("Num Buckets").contains("4"),
      s"reingest must preserve the bucket layout: $desc")
    // refreshed-store results match a from-scratch ingest of the same
    // embeddings (deterministic geometry ⇒ identical searches)
    VectorIndex.ingest(e, "vecidx_re_fresh", buckets = 4)
    val fresh = VectorIndex.search(spark, "vecidx_re_fresh", qs).collect()
    assert(after.map(_.toString).toSeq === fresh.map(_.toString).toSeq,
      "reingest(originals) must equal a fresh ingest of the originals")
  }

  test("store ingest refuses to destroy an unrelated table colliding with the prefix") {
    def txt(tag: String) = (0 until 12).map(j => s"${tag}w$j").mkString(" ")
    val corpus = (1L to 9L).map(i => (i, txt(s"c$i"))).toDF("doc_id", "text")
    val e = SimilarityQueries.emb(spark, sf).filter($"vec_id" <= 50)
    // every store writes through the same skeleton, so each refuses a
    // squatting part table and a squatting meta table alike
    val stores: Seq[(String, Seq[String], String, String => Unit)] = Seq(
      ("sigstore_guard", SignatureStore.parts, "stop",
        SignatureStore.ingest(corpus, _, buckets = 4)),
      ("embstore_guard", EmbeddingSignatureStore.parts, "bands",
        EmbeddingSignatureStore.ingest(
          e.select($"vec_id", $"v".as("embedding")), _, buckets = 4)),
      ("textidx_guard", TextIndex.parts, "dict",
        TextIndex.ingest(corpus, _, buckets = 4)),
      ("vecidx_guard", VectorIndex.parts, "codes",
        VectorIndex.ingest(e, _, buckets = 4)))
    stores.foreach { case (store, parts, part, ingest) =>
      // a user table that happens to sit where the store would write
      // (a generation-1 physical name ingest targets)
      val squat = s"${store}_${part}_g1"
      Seq((1L, "keep me")).toDF("k", "v")
        .write.format("parquet").saveAsTable(squat)
      val ex = intercept[IllegalStateException](ingest(store))
      assert(ex.getMessage.contains(squat), ex.getMessage)
      // the colliding table survives, data intact, and no other part
      // was written before the refusal
      val kept = spark.table(squat).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(kept === Set((1L, "keep me")))
      parts.filter(_ != part).foreach(p =>
        assert(!spark.catalog.tableExists(s"${store}_${p}_g1"), s"$store: $p"))
      // same refusal for a foreign table squatting on the meta name —
      // checked up front, before any generation work
      val meta = s"${store}2_meta"
      Seq((2L, "mine")).toDF("k", "v")
        .write.format("parquet").saveAsTable(meta)
      val ex2 = intercept[IllegalStateException](ingest(s"${store}2"))
      assert(ex2.getMessage.contains(meta), ex2.getMessage)
      parts.foreach(p =>
        assert(!spark.catalog.tableExists(s"${store}2_${p}_g1"), s"$store: $p"))
    }
  }

  test("dedup cluster: components consistent with pairs; one survivor each") {
    val pairs = DedupQueries.qDedupMinhash.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = DedupQueries.qDedupCluster.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val rep = clusters.map(c => c._1 -> c._2).toMap
    // every paired doc is clustered, and both ends share a component
    assert(pairs.forall { case (a, b) => rep.get(a) == rep.get(b) &&
      rep.contains(a) }, "pair endpoints must land in the same cluster")
    // the representative is the smallest member, present, self-labeled
    val members = clusters.groupBy(_._2)
    members.foreach { case (r, ms) =>
      assert(ms.map(_._1).min === r, s"rep $r must be the min member")
      assert(ms.count(_._4) === 1, s"cluster $r needs exactly one survivor")
      assert(ms.forall(_._3 === ms.length), "n_members must equal the size")
    }
    // clusters only exist where pairs exist
    assert(clusters.forall(_._3 >= 2), "singletons must not appear")
  }

  test("dedup cluster: multi-hop chain resolves into one component") {
    // Sliding 50-word windows on a 5-word stride: adjacent docs share
    // ~0.81 jaccard, distant ones fall below the 0.5 edge threshold.
    // With THIS exact token alphabet the (deterministic, md5-driven)
    // LSH banding yields edges {1-2,1-3,1-4,2-3,2-4,3-4,4-5} — doc 5's
    // ONLY edge is 4-5, so its membership in doc 1's cluster can come
    // only from ≥2 propagation iterations (the multi-hop path no
    // clique-shaped corpus exercises). md5 is stable forever, so the
    // fixture cannot rot.
    val words = (0 until 75).map(i => s"tok$i")
    val docsData = (0 until 6).map { d =>
      (d.toLong, words.slice(d * 5, d * 5 + 50).mkString(" "),
        "en", "synthetic", 0L)
    }
    val dir = java.nio.file.Files.createTempDirectory("chain").toString
    docsData.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = DedupQueries.qDedupMinhash.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((4L, 5L)) && !pairs.contains((1L, 5L)),
      s"fixture drift: edges=$pairs")
    val cl = DedupQueries.qDedupCluster.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(cl.get(_).contains(1L)),
      s"docs 1..5 must share rep 1 (doc 5 via the multi-hop path): $cl")
    assert(!cl.contains(0L), "doc 0 has no surviving edge in this fixture")
  }

  test("banded range-frame count equals the native global range frame") {
    // The banded two-pass must reproduce Spark's own (single-partition)
    // RANGE BETWEEN width PRECEDING AND CURRENT ROW count on
    // boundary-adversarial data: values exactly ON band multiples,
    // duplicated values (peers), values whose probe lands exactly on a
    // boundary, empty previous bands, and negatives.
    val crafted = Seq(0.0, 1000.0, 1000.0, 2000.0, 1999.99, 2000.01,
      999.99, 1.0, -1000.0, -0.01, 5000.0, 7000.0, 6999.0, 6000.0)
    val rnd = new scala.util.Random(13)
    val fuzz = Seq.fill(300)(
      math.floor(rnd.nextDouble() * 800000) / 100.0) // 2-decimal prices
    val rows = (crafted ++ fuzz).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("k", "v")
    Seq(1000.0, 250.0, 33.5).foreach { width =>
      val native = rows.selectExpr("k", "v",
          s"count(1) OVER (ORDER BY v RANGE BETWEEN $width PRECEDING" +
            " AND CURRENT ROW) AS n_in_band")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val banded = RelationalQueries.bandedRangeCount(rows, "k", "v", width)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(banded === native, s"width $width")
    }
  }

  test("cluster resolution: reliable checkpoint mode matches local and lands durable files") {
    // chain 1-2-3, pair 4-5, chain 10-11-12-13 (multi-hop): same
    // fixpoint in both checkpoint modes, and reliable=true must write
    // durable generation files under the session checkpoint dir (the
    // executor-loss recovery mode for a real cluster).
    val dirPairs = Seq((1L, 2L), (2L, 3L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 13L))
    val edges = (dirPairs ++ dirPairs.map(_.swap)).toDF("src", "dst")
    def run(reliable: Boolean) =
      DedupQueries.resolveClusters(edges, reliable).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSet
    val local = run(reliable = false)
    assert(local === Set(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (4L, 4L, 2L, true), (5L, 4L, 2L, false),
      (10L, 10L, 4L, true), (11L, 10L, 4L, false),
      (12L, 10L, 4L, false), (13L, 10L, 4L, false)))
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    assert(run(reliable = true) === local)
    val rddDirs = java.nio.file.Files.walk(ckpt).iterator().asScala
      .count(_.getFileName.toString.startsWith("rdd-"))
    assert(rddDirs > 0, s"no durable checkpoints under $ckpt")
  }

  test("cluster resolution: pointer jumping converges in O(log d) on a long chain") {
    // A 64-node chain is the adversarial shape for plain min-label
    // propagation (one iteration per hop = 64 rounds of shuffles at
    // scale). With per-iteration compression the front doubles each
    // round; everything must still collapse to rep 0.
    val n = 64L
    val chainPairs = (0L until n - 1).map(i => (i, i + 1))
    val edges = (chainPairs ++ chainPairs.map(_.swap)).toDF("src", "dst")
    val (df, iters) = DedupQueries.resolveClustersStats(edges)
    val labels = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === n)
    assert((0L until n).forall(labels(_) == 0L), s"bad labels: $labels")
    assert(iters <= 12, s"expected O(log n) convergence, took $iters")
  }

  test("langid predicts crafted multilingual fixtures") {
    val fixtures = Seq(
      (1L, "the cat sat on the mat and it is the best of all the things"),
      (2L, "der hund ist nicht mit der katze und das ist ein problem"),
      (3L, "el perro y la casa que los vecinos una vez por la noche con"),
      (4L, "le chien est dans les bois pour que les oiseaux une fois des"))
    val dir = java.nio.file.Files.createTempDirectory("langid").toString
    fixtures.toDF("doc_id", "text")
      .withColumn("lang", lit("?")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.qTextLangid.run(spark, dir)
      .select("doc_id", "predicted").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "fr"))
  }

  test("repetition signals separate boilerplate from varied text") {
    val fixtures = Seq(
      // pure loop: one bigram carries all the mass, all trigrams dup
      (1L, "buy now buy now buy now buy now buy now buy now buy now buy"),
      // fully varied: every bigram and trigram unique
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // two-token doc: bigram exists, trigram list empty -> frac 0.0
      (3L, "hello world"))
    val dir = java.nio.file.Files.createTempDirectory("rep").toString
    fixtures.toDF("doc_id", "text")
      .withColumn("lang", lit("?")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.qTextRepetition.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val loop = out(1L)
    assert(loop.getString(1) === "buy now", s"top bigram: $loop")
    assert(loop.getDouble(3) >= 0.5, s"loop mass should dominate: $loop")
    assert(loop.getDouble(4) > 0.8 && loop.getDouble(5) > 0.8,
      s"loop dup fractions should be high: $loop")
    val varied = out(2L)
    assert(varied.getDouble(4) === 0.0 && varied.getDouble(5) === 0.0,
      s"varied text has no duplicate n-grams: $varied")
    // tie-break: all bigrams count 1 -> lexicographically first wins
    assert(varied.getString(1) === "alpha beta", s"tie-break: $varied")
    val tiny = out(3L)
    assert(tiny.getString(1) === "hello world" &&
      tiny.getDouble(5) === 0.0, s"2-token doc: $tiny")
  }

  test("bigram logprob: word order matters — the unigram provably cannot tell") {
    // nine fluent docs share one transition structure; the tenth is
    // the same BAG of words reversed. The unigram LM sees identical
    // multisets (equal mean NLL, asserted equal to 6dp), while the
    // bigram LM sees the reversed transitions nowhere else in the
    // corpus and scores the shuffled doc strictly worse — the reason
    // this query exists as the quality filter past q_text_logprob.
    val fluent = (0 until 20).map(i => s"w$i").mkString(" ")
    val reversed = fluent.split(" ").reverse.mkString(" ")
    val rows = (1L to 9L).map(i => (i, fluent)) :+ (10L, reversed)
    val dir = java.nio.file.Files.createTempDirectory("bigram").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("?")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def nll(q: RelationalQueries.Q) = q.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val uni = nll(TextQueries.qTextLogprob)
    assert(uni(1L) === uni(10L), "unigram must not distinguish the bag")
    val bi = nll(TextQueries.qTextBigramLogprob)
    assert(bi(10L) > bi(1L) + 500000L,
      s"bigram must punish shuffled transitions: ${bi(1L)} vs ${bi(10L)}")
  }

  test("unigram logprob: rare-token docs score above common-token docs; hand check") {
    // corpus: 'a' x 8, 'b' x 2 -> p(a)=0.8, p(b)=0.2
    val fixtures = Seq(
      (1L, "a a a a a a"), // 6 common tokens
      (2L, "a a b b"))     // mixes in the rare token
    val dir = java.nio.file.Files.createTempDirectory("nll").toString
    fixtures.toDF("doc_id", "text")
      .withColumn("lang", lit("?")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.qTextLogprob.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // per-token NLL is ROUND(-ln p, 6) in micro-units; the doc mean is
    // the FLOOR of the exact micro sum over the token count
    val microA = math.rint(-math.log(0.8) * 1e6).toLong
    val microB = math.rint(-math.log(0.2) * 1e6).toLong
    assert(out(1L) === ((6L, 6 * microA / 6)),
      s"pure-common doc mean must equal nll(a): ${out(1L)}")
    assert(out(2L) === ((4L, (2 * microA + 2 * microB) / 4)),
      s"mixed doc hand value: ${out(2L)}")
    assert(out(2L)._2 > out(1L)._2, "rare tokens must raise the score")
  }

  test("simhash: identical text → identical signature; near-dup close") {
    def hamming(a: String, b: String): Int =
      a.zip(b).count { case (x, y) => x != y }
    val base = "spark shuffles keyed data across executors during wide " +
      "transformations while narrow ones pipeline in a single stage"
    val nearDup = base.replace("executors", "workers")
    val unrelated = "completely different words about cooking pasta with " +
      "tomato garlic basil and olive oil in a big copper pot tonight"
    val dir = java.nio.file.Files.createTempDirectory("simhash").toString
    Seq((1L, base), (2L, base), (3L, nearDup), (4L, unrelated))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sigs = DedupQueries.qDedupSimhash.run(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs(1L) === sigs(2L), "identical text must hash identically")
    val dupDist = hamming(sigs(1L), sigs(3L))
    val farDist = hamming(sigs(1L), sigs(4L))
    assert(dupDist < farDist,
      s"near-dup distance $dupDist should beat unrelated $farDist")
    assert(dupDist <= 8, s"one-word change moved $dupDist of 32 bits")
  }

  test("multimodal: batched stub extraction keeps rows, dim, and no shuffle") {
    val bin = Multimodal.binarize(Tables(spark, sf, "documents"))
    val feats = Multimodal.extractFeatures(bin, dim = 8, batchSize = 16)
    assert(feats.count() === bin.count())
    val row = feats.head()
    assert(row.getAs[Seq[Float]]("features").size === 8)
    // L1-normalized histogram sums to ~1
    val sums = feats.select(
      aggregate($"features", lit(0.0), (a, x) => a + x).as("s"))
      .agg(min("s"), max("s")).head()
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-3 &&
      math.abs(sums.getDouble(1) - 1.0) < 1e-3)
    // deterministic across runs
    val h1 = feats.orderBy("doc_id").collect().map(_.toString).mkString
    val h2 = Multimodal.extractFeatures(bin, dim = 8, batchSize = 16)
      .orderBy("doc_id").collect().map(_.toString).mkString
    assert(h1 === h2)
    // narrow plan: no exchange before the kernel
    val plan = feats.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("multimodal: arbitrary binary (0x00/0xFF/invalid UTF-8) flows byte-exact") {
    // bytes no UTF-8 decoder accepts — NULs, 0xFF, truncated multi-byte
    // sequences, lone continuation bytes: the content a real media
    // column carries and a text-typed path would silently corrupt.
    // binarize is the TEXT adapter for this corpus; the pipeline
    // contract is over the binary content column, so feed it directly
    // in the binarized shape.
    val rnd = new scala.util.Random(7)
    val blobs: Seq[(Long, Array[Byte])] = Seq(
      1L -> Array.tabulate(300)(i => ((i * 7) % 256).toByte),
      2L -> Array[Byte](0x00, -1, 0x00, -1, 0xC3.toByte, 0x28), // C3 28 invalid
      3L -> Array.fill(5)(0x80.toByte), // lone continuations, < one frame
      4L -> { val a = new Array[Byte](257); rnd.nextBytes(a); a })
    val df = blobs.toDF("doc_id", "content")
      .withColumn("n_bytes", octet_length($"content").cast("long"))
    // frame slices must be BYTE-exact against the documented offset
    // formula computed in-JVM on the original arrays (pins that
    // substring over BinaryType slices bytes, never characters)
    val frames = Multimodal.sampleFrames(df, nFrames = 4, frameBytes = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getAs[Array[Byte]]("frame")))).toMap
    assert(frames.size === blobs.size * 4)
    blobs.foreach { case (id, bytes) =>
      val n = bytes.length
      (0 until 4).foreach { k =>
        val start = 1L + k.toLong * math.max(n - 64, 0) / 3
        val expected = bytes.slice(start.toInt - 1,
          math.min(start.toInt - 1 + 64, n))
        val (gotStart, got) = frames((id, k.toLong))
        assert(gotStart === start, s"doc $id frame $k start")
        assert(java.util.Arrays.equals(got, expected),
          s"doc $id frame $k bytes differ (truncated-never-padded)")
      }
    }
    // features must equal the reference histogram of the ORIGINAL
    // bytes — any en/decode step in transit would shift buckets
    def refFeat(bytes: Array[Byte]): Seq[Float] = {
      val hist = new Array[Long](8)
      bytes.foreach(b => hist((b & 0xff) % 8) += 1)
      hist.map(c => (c / math.max(1, bytes.length).toDouble).toFloat).toSeq
    }
    val feats = Multimodal.extractFeatures(df, dim = 8, batchSize = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    blobs.foreach { case (id, bytes) =>
      assert(feats(id) === refFeat(bytes), s"features for doc $id")
    }
  }

  test("multimodal resize: nearest-neighbor offsets, repetition upsampling") {
    // reference resample computed in-JVM against the documented formula
    def ref(text: String, n: Int): String =
      (0 until n).map { i =>
        text.charAt((1 + i.toLong * (text.length - 1) / (n - 1)).toInt - 1)
      }.mkString
    val docs = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz0123456789ABCDEF"), // downsample
      (2L, "xy"), // shorter than target: upsample by repetition
      (3L, "z"), // degenerate single symbol: offset formula must hold
      (4L, "日本語テキスト")) // multi-byte chars resample by CHAR index
      .toDF("doc_id", "text")
    val out = Multimodal.resizeNearest(docs, targetN = 8).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    docs.collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      assert(out(id) === ref(text, 8), s"doc $id resample")
      assert(out(id).length === 8, s"doc $id must hit the target size")
    }
    assert(out(3L) === "zzzzzzzz")
  }

  test("asof join: picks latest right row at or before left ts, inner") {
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "L1"),
      (1L, ts("2024-01-01 12:00:00"), "L2"),
      (2L, ts("2024-01-01 09:00:00"), "L3"), // before any right row
      (3L, ts("2024-01-01 10:00:00"), "L4")  // exact-tie with right
    ).toDF("k", "lts", "ltag")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 10.0),
      (1L, ts("2024-01-01 11:00:00"), 20.0),
      (2L, ts("2024-01-01 23:00:00"), 30.0),
      (3L, ts("2024-01-01 10:00:00"), 40.0)
    ).toDF("k", "rts", "rval")
    val out = AsOfJoin.asof(left, right, "k", "lts", "rts", Seq("rval"))
      .select("ltag", "rval").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("L1" -> 10.0, "L2" -> 20.0, "L4" -> 40.0))
  }

  test("asof join: staleness tolerance drops old matches, keeps fresh") {
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "L1"), // match 30 min old: fresh
      (1L, ts("2024-01-01 13:00:00"), "L2"), // match 2h old: exactly at tol
      (1L, ts("2024-01-01 13:00:01"), "L3")  // match 2h 1s old: stale
    ).toDF("k", "lts", "ltag")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 10.0),
      (1L, ts("2024-01-01 11:00:00"), 20.0)
    ).toDF("k", "rts", "rval")
    val out = AsOfJoin.asof(left, right, "k", "lts", "rts", Seq("rval"),
        toleranceMicros = Some(2L * 3600L * 1000000L))
      .select("ltag", "rval").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // inclusive boundary (<= tol); the stale L3 drops entirely
    assert(out === Map("L1" -> 10.0, "L2" -> 20.0))
    // None delegates to the unbounded semantics: all three match
    val unbounded = AsOfJoin.asof(left, right, "k", "lts", "rts",
      Seq("rval"), None).count()
    assert(unbounded === 3L)
  }

  test("asof join: null right payload still matches and supersedes") {
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "L1"), // only prior right row has null rval
      (1L, ts("2024-01-01 12:00:00"), "L2"), // newest prior right row has null rval
      (2L, ts("2024-01-01 09:00:00"), "L3")  // no prior right row at all
    ).toDF("k", "lts", "ltag")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), Option.empty[java.lang.Double]),
      (1L, ts("2024-01-01 11:00:00"), Option(20.0): Option[java.lang.Double]),
      (1L, ts("2024-01-01 11:30:00"), Option.empty[java.lang.Double]),
      (2L, ts("2024-01-01 23:00:00"), Option(30.0): Option[java.lang.Double])
    ).toDF("k", "rts", "rval")
    val rows = AsOfJoin.asof(left, right, "k", "lts", "rts", Seq("rval"))
      .select("ltag", "rval").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // L1 matches the 09:30 null-payload row (NOT dropped); L2 matches
    // the NEWEST prior row (11:30, null) — not the stale 11:00 value;
    // L3 has no match and is the only dropped left row.
    assert(rows === Map("L1" -> None, "L2" -> None))
  }

  test("text index: stored search never rescans the corpus; admit freezes old scores") {
    val d = Tables(spark, sf, "documents").select($"doc_id", $"text")
    TextIndex.ingest(d, "textidx_adm", buckets = 2)
    val qs = TextIndex.derivedQueries(spark, "textidx_adm")
    val res = TextIndex.search(spark, "textidx_adm", qs, topk = 50)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"stored search must not scan the corpus source:\n$plan")
    assert(plan.contains("textidx_adm_post"),
      s"search should probe the stored postings table:\n$plan")
    val before = res.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // admit a batch: one doc stuffed with ALL of query 0's terms (tf
    // saturation caps per-term scores near 2.2·idf, so a pure
    // query-term doc outranks any mixed corpus doc — must surface),
    // one of unrelated terms (must stay invisible)
    val q0 = qs.filter($"qid" === 0L).collect().map(_.getString(1))
    val batch = Seq(
      (9001L, Seq.fill(40)(q0).flatten.mkString(" ")),
      (9002L, (0 until 30).map(i => s"zz$i").mkString(" "))
    ).toDF("doc_id", "text")
    TextIndex.admit(spark, "textidx_adm", batch)
    val after = TextIndex.search(spark, "textidx_adm",
        TextIndex.derivedQueries(spark, "textidx_adm"), topk = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // frozen geometry: every doc retrieved both times scores
    // BIT-IDENTICALLY — an append may add rows but never moves idf,
    // avgdl, or any already-indexed doc's postings
    val common = before.keySet.intersect(after.keySet)
    assert(common.nonEmpty)
    common.foreach { k =>
      assert(before(k) === after(k), s"score moved under admit for $k")
    }
    // the admitted doc with indexed terms surfaces; the one whose
    // terms are outside the frozen dictionary cannot
    assert(after.keys.exists(_._2 == 9001L), "admitted doc invisible")
    assert(!after.keys.exists(_._2 == 9002L),
      "doc with only out-of-dictionary terms must not score")
  }

  test("text index: admit + reingest ≡ from-scratch full ingest, one generation ahead") {
    val d = Tables(spark, sf, "documents").select($"doc_id", $"text")
    val a = d.filter($"doc_id" % 5 =!= 0)
    val b = d.filter($"doc_id" % 5 === 0)
    TextIndex.ingest(a, "textidx_rg_a", buckets = 2)
    TextIndex.admit(spark, "textidx_rg_a", b)
    TextIndex.reingest(spark, "textidx_rg_a")
    TextIndex.ingest(d, "textidx_rg_b", buckets = 2)
    def res(st: String) = TextIndex.search(spark, st,
        TextIndex.derivedQueries(spark, st)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // reingest rebuilt dictionary+stats from STORED postings only (its
    // signature takes no corpus) — scores must equal the full ingest's
    assert(res("textidx_rg_a") === res("textidx_rg_b"),
      "reingest from stored state diverges from a from-scratch ingest")
    assert(StoreMeta.gen(spark, "textidx_rg_a") === Some(2L),
      "reingest must publish exactly one generation ahead")
    // ndocs basis survives the lifecycle: ingest-set, admit-bumped
    assert(StoreMeta.docCount(spark, "textidx_rg_a") ===
      StoreMeta.docCount(spark, "textidx_rg_b"))
  }

  test("funnel: strict temporal ordering, not per-type existence") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // A completes in order; B clicks BEFORE its first view (stage 1
    // only); C never clicks (purchase without click must not count);
    // D views then clicks but purchases BEFORE the click (stage 2)
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 1L, "purchase", 0.0, "{}"),
      (4L, ts("2024-01-01 09:00:00"), 2L, "click", 0.0, "{}"),
      (5L, ts("2024-01-01 09:30:00"), 2L, "view", 0.0, "{}"),
      (6L, ts("2024-01-01 08:00:00"), 3L, "view", 0.0, "{}"),
      (7L, ts("2024-01-01 08:30:00"), 3L, "purchase", 0.0, "{}"),
      (8L, ts("2024-01-01 07:00:00"), 4L, "view", 0.0, "{}"),
      (9L, ts("2024-01-01 07:20:00"), 4L, "purchase", 0.0, "{}"),
      (10L, ts("2024-01-01 07:40:00"), 4L, "click", 0.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.qEventsFunnel.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // stage 1: users 1,2,3,4 (all have a view) — note B's pre-view
    // click exists but stage 1 is first-view; stage 2: users 1 and 4
    // (clicks after their first view); stage 3: user 1 only (D's
    // purchase precedes its qualifying click)
    assert(got === Map(1L -> 4L, 2L -> 2L, 3L -> 1L), s"got: $got")
  }

  test("text index: foreachBatch admits are searchable from the outer session") {
    // the lexical daily loop with the session-clone cache pitfall the
    // other two stores hit: admit runs on the micro-batch CLONE
    // session, search on the outer one
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = Tables(spark, sf, "documents").select($"doc_id", $"text")
    TextIndex.ingest(d, "textidx_loop", buckets = 2)
    val q0 = TextIndex.derivedQueries(spark, "textidx_loop")
      .filter($"qid" === 0L).collect().map(_.getString(1))
    val in = MemoryStream[Long]
    val q = in.toDS().toDF("doc_id").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val batch = b.select($"doc_id",
          lit(Seq.fill(40)(q0).flatten.mkString(" ")).as("text"))
        TextIndex.admit(spark, "textidx_loop", batch)
        ()
      }
      .start()
    in.addData(77001L)
    q.processAllAvailable()
    q.stop()
    val docs = TextQueries.bm25StoredSearch(spark, "textidx_loop")
      .collect().map(_.getLong(2)).toSet
    assert(docs.contains(77001L),
      s"admitted doc invisible to the outer session: $docs")
  }

  test("pagerank: structure ranks right; nano-mass conserved within truncation") {
    // star: customer 1 (node 2) trades with suppliers 1..8 (nodes
    // 3,5,…,17); pendant pair: customer 2 (node 4) ↔ supplier 9 (19)
    val eo = ((1 to 8).map(i => (2L, (i * 2 + 1).toLong)) :+ ((4L, 19L)))
      .toDF("c", "s")
    val r = GraphQueries.pagerank(eo, 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet.size === 11)
    // the hub holds the most rank; every star leaf gets 1/8 of the
    // hub's mass while the pendant supplier gets ALL of its partner's
    val hub = r(2L)
    (1 to 8).foreach(i => assert(hub > r((i * 2 + 1).toLong),
      s"hub must outrank star leaf ${i * 2 + 1}: $r"))
    assert(r(19L) > r(3L),
      s"pendant supplier (full inheritance) must outrank a star leaf: $r")
    // integer divisions only ever TRUNCATE: total nano-mass never
    // exceeds 1e9 and loses at most ~1 unit per division performed
    // (11 base-splits + 3 sweeps × (18 contributions + 11 damping))
    val total = r.values.sum
    assert(total <= 1000000000L, s"mass created from nothing: $total")
    assert(total >= 1000000000L - 200L, s"truncation loss too large: $total")
  }

  test("bfs: exact hop distances on a path graph; islands report unreached") {
    // chain c1—s1—c2—s2—c3 (namespaced nodes 2,3,4,5,6: distances
    // 0..4 from the min node) plus a disconnected island c10—s10
    // (nodes 20,21 — must land in the dist = -1 bucket, not vanish)
    val eo = Seq((2L, 3L), (4L, 3L), (4L, 5L), (6L, 5L), (20L, 21L))
      .toDF("c", "s")
    val got = GraphQueries.bfsHistogram(eo, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(-1L -> 2L, 0L -> 1L, 1L -> 1L, 2L -> 1L,
      3L -> 1L, 4L -> 1L), s"got: $got")
    // horizon cut: with 3 hops the chain's last node joins the island
    // in the unreached bucket — visited-at-level is a real BFS level
    // set, not a reachability closure
    val cut = GraphQueries.bfsHistogram(eo, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cut === Map(-1L -> 3L, 0L -> 1L, 1L -> 1L, 2L -> 1L,
      3L -> 1L), s"got: $cut")
  }

  test("pagerankUntilConverged stops at the fixed-horizon answer") {
    val eo = ((1 to 8).map(i => (2L, (i * 2 + 1).toLong)) :+ ((4L, 19L)))
      .toDF("c", "s")
    // never-satisfiable tolerance → runs exactly maxIters sweeps and
    // must be BIT-EQUAL to the fixed-horizon variant at that horizon
    val (rCap, itersCap) = GraphQueries.pagerankUntilConverged(eo, -1L, 3)
    assert(itersCap === 3)
    val fixed3 = GraphQueries.pagerank(eo, 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val capped = rCap.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(capped === fixed3, s"capped: $capped vs fixed: $fixed3")
    // genuine convergence: with a mass-movement tolerance the loop
    // stops EARLY (before the cap) and the result is the fixed-horizon
    // answer at the horizon it actually ran. Measured decay on this
    // fixture: Σ|Δr| contracts by exactly the 0.85 damping per sweep
    // from ~9.2e8, crossing 2e8 at sweep 12 — inside the cap without
    // a marathon test.
    val (rConv, itersConv) =
      GraphQueries.pagerankUntilConverged(eo, 200000000L, 16)
    assert(itersConv < 16, "star graph must converge well before 16 sweeps")
    val fixedAt = GraphQueries.pagerank(eo, itersConv).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val conv = rConv.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(conv === fixedAt, s"converged: $conv vs fixed@$itersConv: $fixedAt")
  }

  test("bfsHistogramUntilConverged stops at the frontier fixpoint") {
    val eo = Seq((2L, 3L), (4L, 3L), (4L, 5L), (6L, 5L), (20L, 21L))
      .toDF("c", "s")
    // chain eccentricity is 4; a 10-hop cap must stop at level 4 with
    // the same histogram the fixed 4-hop traversal produces
    val (hist, levels) = GraphQueries.bfsHistogramUntilConverged(eo, 10)
    assert(levels === 4, s"expected fixpoint at level 4, ran $levels")
    val got = hist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(-1L -> 2L, 0L -> 1L, 1L -> 1L, 2L -> 1L,
      3L -> 1L, 4L -> 1L), s"got: $got")
    // the cap still binds when the fixpoint is beyond it
    val (histCut, levelsCut) = GraphQueries.bfsHistogramUntilConverged(eo, 3)
    assert(levelsCut === 3)
    val cut = histCut.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cut === Map(-1L -> 3L, 0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("bfs kernel: hop distances equal a driver-side BFS on random graphs") {
    // driver-side reference: level-synchronous BFS over an adjacency map
    def hops(adj: Map[Long, Seq[Long]], src: Long): Map[Long, Int] = {
      var dist = Map(src -> 0)
      var frontier = Seq(src)
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct
          .filterNot(dist.contains)
        dist ++= frontier.map(_ -> d)
      }
      dist
    }
    for (seed <- Seq(3L, 17L, 41L)) {
      val rnd = new scala.util.Random(seed)
      // sparse bipartite graph: 12 customers (even ids), 8 suppliers (odd)
      val eo = Seq.fill(16)((rnd.nextInt(12) * 2L, rnd.nextInt(8) * 2L + 1))
        .distinct
      val adj = (eo ++ eo.map(_.swap)).groupMap(_._1)(_._2)
      val edges = (eo ++ eo.map(_.swap)).toDF("src", "dst")
      val src = adj.keys.min
      val ref = hops(adj, src)
      val ecc = ref.values.max
      for (maxHops <- Seq(2, 10)) {
        val (visited, levels) = GraphQueries.bfs(edges,
          Seq(src).toDF("node"), Nil, maxHops)
        val got = visited.collect()
          .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist").toInt).toMap
        assert(got === ref.filter(_._2 <= maxHops),
          s"graph seed $seed, maxHops $maxHops")
        assert(levels === math.min(ecc, maxHops),
          s"graph seed $seed, maxHops $maxHops: ecc $ecc, ran $levels")
      }
      // keyed: three sources traverse jointly, each its own BFS
      val sources = adj.keys.toSeq.sorted.take(3)
      val (visited, levels) = GraphQueries.bfs(edges,
        sources.map(n => (n, n)).toDF("seed", "node"), Seq("seed"), 10)
      val got = visited.collect().map(r => (r.getAs[Long]("seed"),
        r.getAs[Long]("node")) -> r.getAs[Long]("dist").toInt).toMap
      val refs = sources.map(s => s -> hops(adj, s))
      assert(got === refs.flatMap { case (s, m) =>
        m.map { case (n, d) => (s, n) -> d } }.toMap, s"graph seed $seed")
      assert(levels === refs.map(_._2.values.max).max, s"graph seed $seed")
    }
  }

  test("iterate: checkpointed steps keep the plan flat") {
    val init = spark.range(5).toDF("x")
    def run(n: Int) = GraphQueries.iterate(init, n) { (df, _) =>
      df.select(($"x" + 1).as("x"))
    }
    def nodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case p => p }.size
    val (one, _) = run(1)
    val (twelve, steps) = run(12)
    assert(steps === 12)
    assert(twelve.as[Long].collect().sorted.toSeq === (12L to 16L))
    assert(nodes(twelve) === nodes(one),
      s"12-step plan:\n${twelve.queryExecution.analyzed}")
    // the stop test sees each materialized step and ends the loop
    val (_, stopped) = GraphQueries.iterate(init, 12,
      until = (_, _, i) => i == 3)((df, _) => df)
    assert(stopped === 3)
  }

  test("kmeansTrainUntilConverged matches the fixed-horizon training") {
    def centsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] = {
      val row = df.head()
      row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("cents"))
        .map(c => c.getLong(0) -> (c.getSeq[Long](1).toVector: Seq[Long]))
        .toMap
    }
    // never-satisfiable tolerance → exactly maxIters sweeps, bit-equal
    // to the fixed 2-sweep training (the registered query's horizon)
    val (cCap, vmA, _, itersCap) =
      SimilarityQueries.kmeansTrainUntilConverged(spark, sf, 8, 2, -1L)
    assert(itersCap === 2)
    val (cFixed, vmB, _) = SimilarityQueries.kmeansTrain(spark, sf, 8, 2)
    assert(centsOf(cCap) === centsOf(cFixed))
    // an always-satisfied tolerance stops after one sweep
    val (c1, vmC, _, iters1) = SimilarityQueries
      .kmeansTrainUntilConverged(spark, sf, 8, 5, Long.MaxValue)
    assert(iters1 === 1)
    val (cFixed1, vmD, _) = SimilarityQueries.kmeansTrain(spark, sf, 8, 1)
    assert(centsOf(c1) === centsOf(cFixed1))
    Seq(vmA, vmB, vmC, vmD).foreach(_.unpersist(blocking = false))
  }

  test("session_window exact-gap tie: native merges on touch, like the oracle") {
    // ADVICE r8: the three-way equivalence (native ≡ lag formulation ≡
    // DuckDB oracle) relied on fixtures never containing an event
    // EXACTLY 30 minutes after its predecessor. Pin the tie semantics:
    // Spark's session_window MERGES on touch (next.start == prev.end),
    // which is the lag formulation's inclusive `gap <= pad` — probed
    // and asserted here so a Spark behavior change would fail loudly.
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:30:00"), 7L, "view", 1.0, "{}"), // exact gap
      (3L, ts("2024-01-01 11:00:01"), 7L, "view", 1.0, "{}")) // gap+1s
    val dir = java.nio.file.Files.createTempDirectory("swtie").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val native = WindowQueries.qSessionizeNative.run(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val batch = WindowQueries.qSessionizeBatch.run(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // two sessions: {10:00, 10:30 (tie merges)} and {11:00:01}
    assert(native.toSeq === Seq((1L, 2L), (2L, 1L)), s"native: ${native.toSeq}")
    assert(batch.toSeq === native.toSeq,
      s"native/lag divergence at the exact-gap tie: ${batch.toSeq}")
  }

  test("transitions: total (ts, event_id) order; rows normalize per context") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: view→click→view; user 2 has a TIMESTAMP TIE — event_id
    // must break it (view id 4 precedes click id 5), so the pair is
    // view→click, never click→view
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 1L, "view", 0.0, "{}"),
      (4L, ts("2024-01-01 09:00:00"), 2L, "view", 0.0, "{}"),
      (5L, ts("2024-01-01 09:00:00"), 2L, "click", 0.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("trans").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.qEventsTransitions.run(spark, dir).collect()
    val counts = got.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts === Map(("view", "click") -> 2L, ("click", "view") -> 1L),
      s"got: $counts")
    // row-normalization: per prev_type, n_from is the shared row total
    // and the probabilities sum to 1
    got.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sum === rs.head.getLong(3))
      assert(math.abs(rs.map(_.getDouble(4)).sum - 1.0) < 1e-9)
    }
  }

  test("paths: consecutive triples only; short sequences contribute nothing") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1 walks view→click→purchase→view (two triples); user 2's
    // two-event sequence has no triple and must not appear
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 1L, "purchase", 0.0, "{}"),
      (4L, ts("2024-01-01 10:03:00"), 1L, "view", 0.0, "{}"),
      (5L, ts("2024-01-01 09:00:00"), 2L, "view", 0.0, "{}"),
      (6L, ts("2024-01-01 09:01:00"), 2L, "click", 0.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("paths").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.qEventsPaths.run(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
      .toMap
    assert(got === Map(("view", "click", "purchase") -> 1L,
      ("click", "purchase", "view") -> 1L), s"got: $got")
  }

  test("anomaly: planted spike flags; post-spike hour absorbed by the frame") {
    // 24 baseline hours alternating 2/4 events (nonzero variance),
    // then a 40-event spike at hour 24, then a normal hour 25
    var id = 0L
    val rows = (0 to 25).flatMap { h =>
      val n = if (h == 24) 40 else if (h % 2 == 0) 2 else 4
      val ts = java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:30:00Z")
          .plusSeconds(h * 3600L))
      (1 to n).map { _ => id += 1
        (id, ts, 1L, "view", 0.0, "{}") }
    }
    val dir = java.nio.file.Files.createTempDirectory("anom").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.qEventsAnomaly.run(spark, dir).collect()
    // warmup hours 0..23 are excluded: only hours 24 and 25 score
    assert(got.length === 2, s"got ${got.length} rows")
    val byN = got.map(r => r.getLong(2) ->
      (r.getLong(3), r.getBoolean(4))).toMap
    // spike hour: baseline mean 3 (exactly 3e6 micro), flagged
    assert(byN(40L) === ((3000000L, true)), s"got: $byN")
    // the hour after (odd → 4 events): its frame now CONTAINS the
    // spike, variance inflates, 4 is within band — adaptivity, not
    // latching
    assert(byN(4L)._2 === false, s"got: $byN")
  }

  test("collocations: micro-lift is the exact integer PMI argument, floor-ranked") {
    val out = TextQueries.qTextCollocations.run(spark, sf).collect()
    assert(out.length === 30)
    // re-derive the raw counts independently (driver-side sliding —
    // the query itself extracts in-row and never collects)
    val pairs = Tables(spark, sf, "documents")
      .select($"doc_id", split($"text", " ").as("ws"))
      .collect()
      .flatMap(r => r.getSeq[String](1).sliding(2).collect {
        case scala.collection.Seq(a, b) => (a, b)
      })
    val nAb = pairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nA = pairs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nB = pairs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val total = pairs.length.toLong
    var prev = Long.MaxValue
    out.foreach { r =>
      val (wp, w, n, lift) =
        (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))
      assert(n >= 5, s"noise floor violated: ($wp,$w) n=$n")
      assert(n === nAb((wp, w)))
      val want = n * total * 1000000L / (nA(wp) * nB(w))
      assert(lift === want, s"($wp,$w): lift $lift != exact floor $want")
      assert(lift <= prev, "ranking must be non-increasing in micro-lift")
      prev = lift
    }
  }

  test("bm25: every retrieved doc contains a query term; all 8 queries fill") {
    // the oracle gate proves cross-engine parity; this pins retrieval
    // SEMANTICS — a doc can only score via postings it actually has
    val out = TextQueries.qTextBm25.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(out.map(_._1).distinct.sorted === (0L to 7L),
      "all 8 derived queries must return results")
    // rebuild the derived query terms exactly as the query does
    val terms = Tables(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w").limit(24)
      .collect().map(_.getString(0)).zipWithIndex
      .groupBy(_._2 / 3).map { case (q, ws) => q.toLong -> ws.map(_._1).toSet }
    val texts = Tables(spark, sf, "documents")
      .select($"doc_id", split($"text", " ").as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    out.foreach { case (qid, docId) =>
      assert(texts(docId).intersect(terms(qid)).nonEmpty,
        s"doc $docId retrieved for query $qid without any of ${terms(qid)}")
    }
  }

  test("hybrid rrf: fused score is exactly the sum of arm contributions") {
    val rows = SimilarityQueries.qSimHybridRrf.run(spark, sf).collect()
    assert(rows.map(_.getLong(0)).distinct.length === 8)
    def contrib(r: org.apache.spark.sql.Row, i: Int): BigDecimal =
      if (r.isNullAt(i)) BigDecimal(0)
      else BigDecimal(1.0 / (60 + r.getLong(i))).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    rows.foreach { r =>
      val expected = (contrib(r, 3) + contrib(r, 4)).toDouble
      assert(r.getDouble(5) === expected,
        s"rrf mismatch for qid=${r.getLong(0)} doc=${r.getLong(2)}")
      assert(!(r.isNullAt(3) && r.isNullAt(4)), "doc from neither arm")
    }
    // fusion actually fuses: some doc must be surfaced by BOTH arms
    assert(rows.exists(r => !r.isNullAt(3) && !r.isNullAt(4)),
      "no document surfaced by both arms — fusion degenerate")
  }

  test("attribution: strict precedence, tie-break, and touchless purchases") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: view→click→purchase (first=view, last=click, n=2);
    // user 2: purchase with NO prior touch (nulls, n=0) — the error
    //   event before it must not count as a touch;
    // user 3: click at the SAME ts as the purchase with a smaller
    //   event_id counts (total (ts, event_id) order), and a later
    //   touch after the purchase must not.
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 10:05:00"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 10:10:00"), 1L, "purchase", 0.0, "{}"),
      (4L, ts("2024-01-01 09:00:00"), 2L, "error", 0.0, "{}"),
      (5L, ts("2024-01-01 09:10:00"), 2L, "purchase", 0.0, "{}"),
      (6L, ts("2024-01-01 08:00:00"), 3L, "click", 0.0, "{}"),
      (7L, ts("2024-01-01 08:00:00"), 3L, "purchase", 0.0, "{}"),
      (8L, ts("2024-01-01 08:30:00"), 3L, "view", 0.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("attr").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.qEventsAttribution.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet === Set(3L, 5L, 7L))
    assert(got(3L).getLong(3) === 2L &&
      got(3L).getString(4) === "view" && got(3L).getString(6) === "click")
    assert(got(5L).getLong(3) === 0L && got(5L).isNullAt(4) &&
      got(5L).isNullAt(6), "error event leaked into attribution")
    assert(got(7L).getLong(3) === 1L && got(7L).getString(4) === "click" &&
      got(7L).getString(6) === "click",
      "same-ts smaller-id touch must count; later view must not")
  }

  test("scd2: runs collapse, versions chain, exactly one current row") {
    val out = Scd2Queries.qScd2Orders.run(spark, sf).collect()
    val byCust = out.groupBy(_.getLong(0))
    assert(byCust.nonEmpty)
    byCust.foreach { case (ck, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      // versions are 1..n dense
      assert(sorted.map(_.getLong(1)).toSeq === (1L to rs.length).toSeq)
      // consecutive intervals never share a status (runs collapsed)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getString(2) !== b.getString(2),
            s"uncollapsed run for customer $ck")
        case _ =>
      }
      // valid_to chains to the successor's valid_from; only the last
      // interval is open/current
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(4) === b.getTimestamp(3),
            s"broken interval chain for customer $ck")
        case _ =>
      }
      assert(sorted.count(_.getBoolean(5)) === 1 &&
        sorted.last.getBoolean(5), s"current-row violation for $ck")
    }
  }

  test("scd2 incremental: every merge class equals the full recompute") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // customer 1: delta CONTINUES the open status (absorb: n_orders
    //   adds, valid_from keeps, then a later status change appends);
    // customer 2: delta OPENS with a different status (open interval
    //   closes at the delta's first date);
    // customer 3: delta-only customer (fresh history, versions 1..);
    // customer 4: base-only customer (must pass through untouched)
    val rows = Seq(
      (10L, 1L, "O", ts("1999-01-01 00:00:00")),
      (11L, 1L, "O", ts("1999-06-01 00:00:00")),
      (12L, 1L, "O", ts("2000-02-01 00:00:00")),
      (13L, 1L, "F", ts("2000-06-01 00:00:00")),
      (20L, 2L, "O", ts("1999-03-01 00:00:00")),
      (21L, 2L, "F", ts("2000-03-01 00:00:00")),
      (22L, 2L, "F", ts("2000-04-01 00:00:00")),
      (30L, 3L, "P", ts("2000-05-01 00:00:00")),
      (31L, 3L, "O", ts("2000-07-01 00:00:00")),
      (40L, 4L, "F", ts("1998-01-01 00:00:00")),
      (41L, 4L, "O", ts("1999-09-01 00:00:00")))
    val dir = java.nio.file.Files.createTempDirectory("scd2i").toString
    rows.map { case (ok, ck, st, d) => (ok, ck, st, 0.0, d, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val full = Scd2Queries.qScd2Orders.run(spark, dir).collect().toSeq
    val incr = Scd2Queries.qScd2Incremental.run(spark, dir)
      .collect().toSeq
    assert(incr === full)
    // and the absorb case really absorbed: customer 1 version 1 spans
    // base start with base+delta counts
    val c1v1 = incr.find(r => r.getLong(0) === 1L && r.getLong(1) === 1L).get
    assert(c1v1.getString(2) === "O" && c1v1.getLong(6) === 3L &&
      c1v1.getTimestamp(3) === ts("1999-01-01 00:00:00"))
    // customer 3 (delta-only) starts at version 1
    assert(incr.filter(_.getLong(0) === 3L).map(_.getLong(1)).min === 1L)
  }

  test("join-view IVM: a fully-cancelled customer vanishes; cross term lands") {
    // customer 100's ONLY order is in the ≡1 (mod 10) cancel class —
    // every signed contribution cancels (n = 0) and the group must
    // VANISH (the branch the registry fixture never fires); customer
    // 200 is untouched base; customer 300's order is the ≡7 insert
    // class arriving WITH its lines (insert×insert cross term); the
    // ≡3/line-1 delete on absent order 33 must be a no-op (a delete
    // whose order never joins).
    val dir = java.nio.file.Files.createTempDirectory("jivm").toString
    Seq((11L, 100L), (22L, 200L), (37L, 300L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((11L, 1L, 10.00), (11L, 2L, 20.00), (22L, 1L, 30.00),
        (37L, 1L, 40.00), (37L, 3L, 5.00), (33L, 1L, 99.00))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = RelationalQueries.qAggJoinIvm.run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(!out.contains(100L), s"cancelled customer must vanish: $out")
    assert(out(200L) === ((1L, 3000L)))
    assert(out(300L) === ((2L, 4500L)))
    assert(out.size === 2)
  }

  test("profile: one row per column, exact invariants vs the table") {
    val out = StatsQueries.qStatsProfile.run(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val o = Tables(spark, sf, "orders")
    val nRows = o.count()
    assert(out.size === 6)
    out.values.foreach { r =>
      assert(r.getLong(1) === nRows)
      assert(r.getLong(2) === 0L, s"${r.getString(0)}: fixture has no nulls")
      assert(r.getLong(3) <= nRows)
    }
    // primary key profile: every value distinct, text min/max match
    assert(out("o_orderkey").getLong(3) === nRows)
    assert(out("o_orderstatus").getLong(3) === 3L)
    assert(out("o_orderstatus").getString(4) === "F" &&
      out("o_orderstatus").getString(5) === "P")
  }

  test("ewma: constant series stays put; a spike halves every hour") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 20 hours of exactly 4 events, except hour 10 carries 4 extra
    // (the spike). With power-of-two weights the smoothed excess
    // after the spike decays by EXACTLY half each hour.
    val base = for {
      h <- 0 until 20
      i <- 0 until 4
    } yield (h * 10L + i, ts(f"2024-01-01 $h%02d:${i * 5}%02d:00"),
      1L, "click", 0.0, "{}")
    val spike = (0 until 4).map(i =>
      (900L + i, ts(f"2024-01-01 10:${30 + i}%02d:00"), 1L, "click", 0.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("ewma").toString
    (base ++ spike)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = TsQueries.qTsEwma.run(spark, dir).collect()
      .map(r => r.getTimestamp(1).toString.substring(11, 13).toInt ->
        r.getDouble(3)).toMap
    // pre-spike steady state: ewma == the constant rate exactly
    (1 until 10).foreach(h => assert(got(h) === 4.0, s"hour $h drifted"))
    // spike decay: excess over baseline halves hour over hour (weights
    // are saturated 16-term sums from hour 15 on; check 16..19)
    (16 until 19).foreach { h =>
      val e1 = got(h) - 4.0
      val e2 = got(h + 1) - 4.0
      // each side carries its own round-6, so allow 2e-6
      assert(math.abs(e1 - 2 * e2) < 2e-6,
        s"hour $h→${h + 1}: excess $e1 did not halve to $e2")
    }
  }

  test("entity resolution: symmetric-delete blocking finds EXACTLY the brute-force pairs") {
    val got = DedupQueries.qDedupEntity.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the sf0.001 corpus (150 names — fine in-test;
    // the point of the blocking scheme is precisely that production
    // never does this n² compare)
    val names = Tables(spark, sf, "customer")
      .select($"c_custkey", $"c_name").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (ai, an) <- names if ai < 500
      (bi, bn) <- names if bi != ai && lev(an, bn) == 1
    } yield (ai, bi)).toSet
    assert(got === brute,
      s"missed: ${brute -- got take 5}; spurious: ${got -- brute take 5}")
  }

  test("chi-square: discriminative token outranks a uniform one; stat recomputes") {
    val out = TextQueries.qTextChisquare.run(spark, sf).collect()
    assert(out.length === 50)
    val scores = out.map(_.getDouble(5))
    assert(scores.toSeq === scores.sorted(Ordering[Double].reverse).toSeq)
    assert(scores.forall(_ >= 0.0))
    // recompute the top row's statistic from its own marginals
    val top = out.head
    val (a, tt, st) = (top.getLong(2), top.getLong(3), top.getLong(4))
    val nTok = Tables(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0).count()
    val d = nTok - tt - st + a
    val diff = a.toDouble * d.toDouble -
      (tt - a).toDouble * (st - a).toDouble
    val chi2 = nTok.toDouble * (diff * diff) /
      (tt.toDouble * (nTok - tt).toDouble * st.toDouble * (nTok - st).toDouble)
    assert(math.abs(top.getDouble(5) - chi2) < 1e-6,
      s"top-row χ² ${top.getDouble(5)} != recomputed $chi2")
  }

  test("regression: exact line recovers slope/intercept with r2 = 1") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // y = 3.5 + 0.25 * x (x in hours since 2024-01-01) sampled at 12
    // hours — an exact line, so the sufficient-statistic path must
    // return the coefficients and r² EXACTLY (all sums integer-exact,
    // the final divisions land on representable values)
    val rows = (0 until 12).map { h =>
      (h.toLong, ts(f"2024-01-01 $h%02d:00:00"), 1L, "click",
        3.5 + 0.25 * h, "{}")
    }
    val dir = java.nio.file.Files.createTempDirectory("reg").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = StatsQueries.qStatsRegression.run(spark, dir).collect().head
    assert(r.getLong(1) === 12L)
    assert(r.getDouble(2) === 0.25, s"slope ${r.getDouble(2)}")
    assert(r.getDouble(3) === 3.5, s"intercept ${r.getDouble(3)}")
    assert(r.getDouble(4) === 1.0, s"r2 ${r.getDouble(4)}")
  }

  test("winsorize: bounds honored, tails counted, mean within bounds") {
    val out = PrepQueries.qPrepWinsorize.run(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, p05, p95) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      val (lo, hi, mean) = (r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(p05 <= p95)
      assert(mean >= p05 && mean <= p95,
        s"${r.getString(0)}: winsorized mean $mean outside [$p05,$p95]")
      // interpolated 5%/95% quantiles leave at most ceil(5%) strictly
      // outside on each side
      assert(lo <= math.ceil(n * 0.05).toLong && hi <= math.ceil(n * 0.05).toLong,
        s"${r.getString(0)}: clipped $lo/$hi of $n")
    }
  }

  test("source overlap: top pair's jaccard recomputes from raw vocab sets") {
    val out = TextQueries.qStatsSourceOverlap.run(spark, sf).collect()
    assert(out.length === 20)
    val top = out.head
    val (sa, sb) = (top.getString(0), top.getString(1))
    val vocab = Tables(spark, sf, "documents")
      .select($"source", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0).distinct().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSet)
    val (va, vb) = (vocab(sa), vocab(sb))
    val inter = (va & vb).size
    assert(top.getLong(2) === va.size.toLong)
    assert(top.getLong(3) === vb.size.toLong)
    assert(top.getLong(4) === inter.toLong)
    val jac = BigDecimal(inter.toDouble / (va.size + vb.size - inter))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(top.getDouble(5) - jac) < 1e-9)
    // ordering is by jaccard desc under deterministic tie-break
    val js = out.map(_.getDouble(5))
    assert(js.toSeq === js.sorted(Ordering[Double].reverse).toSeq)
  }

  test("fisher: a planted separating dimension dominates a no-signal one") {
    // dim 1 separates the two labels by 1.0 with 0.01 within-class
    // spread; dim 2 carries the SAME values for both labels (no
    // signal). F(dim1) must dwarf F(dim2), and every F is >= 0.
    val rows = Seq(
      (1L, Array(0.0f, 0.3f), 0), (2L, Array(0.01f, 0.31f), 0),
      (3L, Array(0.02f, 0.3f), 0), (4L, Array(1.0f, 0.3f), 1),
      (5L, Array(1.01f, 0.31f), 1), (6L, Array(1.02f, 0.3f), 1))
    val dir = java.nio.file.Files.createTempDirectory("fisher").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SimilarityQueries.qSimFisher.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) > 100 * math.max(got(2L), 1e-9),
      s"separating dim F=${got(1L)} vs noise dim F=${got(2L)}")
    assert(got.values.forall(_ >= 0.0))
  }

  test("distinct-n: hand-checked ratios separate templated from varied text") {
    val docsRows = Seq(
      (1L, "a a a a", "en", "tmpl", 7L),
      (2L, "a a a a", "en", "tmpl", 7L),
      (3L, "a b c d", "en", "varied", 7L),
      (4L, "e f g h", "en", "varied", 7L))
    val dir = java.nio.file.Files.createTempDirectory("dn").toString
    docsRows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextQueries.qTextDistinctN.run(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val t = got("tmpl")
    // 2 docs × "a a a a": 8 unigrams 1 distinct; 6 bigrams 1 distinct;
    // 4 trigrams 1 distinct
    assert((t.getLong(1), t.getLong(2)) === ((8L, 1L)))
    assert((t.getLong(4), t.getLong(5)) === ((6L, 1L)))
    assert((t.getLong(7), t.getLong(8)) === ((4L, 1L)))
    assert(t.getDouble(3) === 0.125 && t.getDouble(6) > t.getDouble(3) - 1)
    val v = got("varied")
    // fully varied: every ratio is exactly 1
    assert(v.getDouble(3) === 1.0 && v.getDouble(6) === 1.0 &&
      v.getDouble(9) === 1.0)
  }

  test("interval join: shared bucket without true overlap is excluded") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // three single-event sessions in the SAME hour bucket: u1 at
    // 10:00 and u3 at 10:20 overlap under the 30-min pad; u2 at 10:51
    // shares the bucket but overlaps NEITHER ([10:00,10:30] and
    // [10:20,10:50] both end before 10:51) — the exact predicate must
    // drop it, proving bucketing only generates candidates, never
    // decides. (10:50 would touch u3's padded end exactly — the
    // inclusive boundary — so the fixture sits one minute past it.)
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 10:51:00"), 2L, "view", 0.0, "{}"),
      (3L, ts("2024-01-01 10:20:00"), 3L, "view", 0.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("ivj").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = RelationalQueries.qJoinInterval.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(got === Set((1L, 1L), (3L, 1L)),
      s"expected u1<->u3 only, got $got")
  }

  test("cdc: boundaries re-synchronize after a head insertion; fixed blocks don't") {
    // doc 2 = doc 1 with ONE byte inserted at the head. CDC must
    // still share most chunk hashes (boundaries are content-decided,
    // so everything after the first boundary re-aligns); fixed-size
    // blocking at the same granularity shares NOTHING (every block
    // shifts by one byte).
    val baseText = (1 to 300).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      (1L, baseText, "en", "s", baseText.length.toLong),
      (2L, "X" + baseText, "en", "s", baseText.length + 1L))
    val dir = java.nio.file.Files.createTempDirectory("cdc").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val chunks = MultimodalQueries.cdcChunks(spark, dir).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    val shared = chunks(1L) & chunks(2L)
    assert(chunks(1L).size > 3, s"degenerate chunking: ${chunks(1L).size}")
    assert(shared.size >= chunks(1L).size - 2,
      s"CDC failed to re-synchronize: ${shared.size} of ${chunks(1L).size}")
    // the fixed-size-blocking contrast: 32-byte offset blocks of the
    // two payloads share no hash (the entire point of CDC)
    val a = baseText.getBytes("UTF-8")
    val b = ("X" + baseText).getBytes("UTF-8")
    def blocks(x: Array[Byte]) =
      x.grouped(32).map(_.toSeq).toSet
    assert((blocks(a) & blocks(b)).isEmpty)
  }

  test("hard negatives: labels always differ, similarity dominates in-class") {
    val out = SimilarityQueries.qSimHardNegatives.run(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getInt(1) !== r.getInt(4),
        s"anchor ${r.getLong(0)}: same-label neighbor ${r.getLong(3)}")
    }
    // per anchor: ranks are 1..5 and similarity is non-increasing
    out.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq === (1L to sorted.length).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(x, y) => x.getDouble(5) >= y.getDouble(5)
        case _ => true
      }, s"anchor $qid: similarity not sorted")
    }
    // the rank-1 hard negative truly dominates: no OTHER different-
    // label vector scores higher (cross-check against the brute
    // scorer for anchor 0)
    val anchor0 = out.filter(r => r.getLong(0) === 0L && r.getLong(2) === 1L).head
    val brute = SimilarityQueries.qSimTopkBrute.run(spark, sf).collect()
      .filter(_.getLong(0) === 0L)
    // brute top-5 unrestricted: every entry ABOVE anchor0's rank-1
    // cos_sim must share anchor 0's label (else hard-negatives missed it)
    val labels = Tables(spark, sf, "embeddings").select($"vec_id", $"label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    brute.filter(_.getDouble(3) > anchor0.getDouble(5)).foreach { r =>
      assert(labels(r.getLong(2)) === labels(0L),
        s"brute found a higher different-label neighbor ${r.getLong(2)}")
    }
  }

  test("cdc: changeset apply reconstructs v2 row-for-row") {
    // the registered gate compares a 10-bucket aggregate of the
    // reconstruction; this pins the stronger property it summarizes —
    // v1 + diff(v1,v2) == v2 EXACTLY, row for row — through the SAME
    // production helpers the registered queries run (snapshots/diff/
    // applyChangeset), so a fixture or merge-logic change cannot
    // desynchronize spec and query
    val (v1, v2) = CdcQueries.snapshots(spark, sf)
    val d = CdcQueries.diff(v1, v2)
    val ops = d.groupBy($"op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("I", "U", "D").subsetOf(ops.keySet),
      s"fixture must exercise all three ops: $ops")
    val recon = CdcQueries.applyChangeset(v1, d)
    val mismatch = recon.withColumnRenamed("p1", "pr")
      .join(v2, Seq("k"), "full_outer")
      .filter($"pr".isNull || $"p2".isNull || $"pr" =!= $"p2")
    assert(mismatch.isEmpty,
      s"reconstruction diverges from v2: ${mismatch.take(5).toSeq}")
  }

  test("session_window exact-gap boundary: pinned against the lag oracle") {
    // ADVICE r8 feared q_sessionize_native's equivalence with the
    // lag-formulation oracle was fixture-luck: an event EXACTLY 30
    // minutes after its predecessor is same-session under the
    // inclusive lag rule (gap <= pad) but might start a new session
    // if session_window used an exclusive [start, start+gap) end.
    // Measured: Spark MERGES when next.start <= current.end — the two
    // formulations agree at the exact boundary, so the three-way
    // equivalence is semantic, not fixture-luck. This test pins that:
    // if either side's tie rule ever changes, it fails here instead
    // of flaking the gate on some future exact-gap fixture row.
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"))) // exactly 30 min
      .toDF("user_id", "ts")
    val native = rows
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val lagSame = rows
      .select($"user_id", unix_micros($"ts").as("us"))
      .withColumn("new_s", when(
        $"us" - lag($"us", 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"user_id").orderBy($"us")) <= 1800L * 1000000L,
        lit(0L)).otherwise(lit(1L)))
      .agg(sum($"new_s").as("n_sessions"))
      .head().getLong(0)
    assert(lagSame === 1L, "lag formulation is inclusive: one session")
    // session_window merges the boundary event into the open session
    // (inclusive end), agreeing with the lag oracle: one session of 2.
    assert(native.length === 1 && native(0).getLong(2) === 2L,
      s"session_window tie semantics changed: ${native.toSeq}")
  }

  test("prep binning: deciles are equal-frequency within one doc") {
    val bins = PrepQueries.qPrepBinning.run(spark, sf).collect()
    assert(bins.length === 10, s"expected 10 bins, got ${bins.length}")
    val counts = bins.map(_.getLong(1))
    assert(counts.max - counts.min <= 1,
      s"equal-frequency violated: ${counts.toSeq}")
    // bin boundaries are non-overlapping and ordered: bin b's max
    // n_chars never exceeds bin b+1's min (equal values may share)
    bins.sortBy(_.getLong(0)).sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getLong(3) <= hi.getLong(2),
          s"bins overlap: ${lo.getLong(0)} max=${lo.getLong(3)} vs " +
            s"${hi.getLong(0)} min=${hi.getLong(2)}")
      case _ =>
    }
  }
}
