package graft.analytics

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the training-data prep operators — the
  * properties a pipeline author relies on, beyond the cell-exact
  * oracle gate (which pins the values). */
class PrepSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.01"

  test("split: deterministic, total, and roughly 80/10/10") {
    val a = PrepQueries.qPrepSplit.run(spark, sf).collect()
    val b = PrepQueries.qPrepSplit.run(spark, sf).collect()
    assert(a.toSeq === b.toSeq, "split must be stable across runs")
    val n = a.length.toDouble
    val frac = a.groupBy(_.getString(1)).view.mapValues(_.length / n).toMap
    assert(frac.keySet === Set("train", "val", "test"))
    assert(frac("train") > 0.7 && frac("train") < 0.9, s"train=$frac")
    assert(frac("test") < 0.2 && frac("val") < 0.2, s"fracs=$frac")
  }

  test("chunk: overlap-stripped concatenation reconstructs every document") {
    // chunk k covers words [1+40k, 50+40k]; dropping each later chunk's
    // first 10 (overlap) words and concatenating must rebuild the text.
    val rebuilt = PrepQueries.qPrepChunk.run(spark, sf)
      .withColumn("tail_words",
        when(col("chunk_idx") === 0, split(col("chunk_text"), " "))
          .otherwise(slice(split(col("chunk_text"), " "), 11, 50)))
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", flatten(array_sort(collect_list(
        struct(col("chunk_idx"), col("tail_words"))))
        .getField("tail_words"))).as("rebuilt"))
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val mismatches = rebuilt.join(docs, "doc_id")
      .filter(col("rebuilt") =!= col("text")).count()
    assert(mismatches === 0)
  }

  test("redact: blocklisted terms gone, audit count matches the removals") {
    val r = PrepQueries.qPrepRedact.run(spark, sf)
    assert(r.filter(col("clean_text").rlike("\\b(customer|value)\\b"))
      .count() === 0, "no blocklisted term may survive")
    // n_redacted must equal the number of <TERM> tokens inserted
    val bad = r.filter(
      size(split(col("clean_text"), "<TERM>", -1)) - 1 =!= col("n_redacted"))
      .count()
    assert(bad === 0, "audit count must match insertions")
  }

  test("shard: covers every chunk, respects the budget, deterministic") {
    val s = PrepQueries.qPrepShard.run(spark, sf)
    // same chunk universe as q_prep_chunk — nothing dropped or invented
    assert(s.count() === PrepQueries.qPrepChunk.run(spark, sf).count())
    // shard ids are a dense prefix within each bucket (0..max), and
    // every shard except a bucket's last holds at least budget minus
    // one max chunk (2000 - 50: the boundary-straddling chunk opens
    // the next shard, so a closed shard can be short by at most one
    // chunk's tokens)
    val perShard = s.groupBy(col("bucket"), col("shard_id"))
      .agg(sum(col("n_tokens")).as("toks"))
    val lastShard = perShard.groupBy(col("bucket"))
      .agg(max(col("shard_id")).as("last_id"), count(lit(1)).as("n_shards"))
    assert(lastShard.filter(col("n_shards") =!= col("last_id") + 1)
      .count() === 0, "shard ids must be dense per bucket")
    val undersized = perShard.join(lastShard, "bucket")
      .filter(col("shard_id") < col("last_id") && col("toks") < 2000 - 50)
      .count()
    assert(undersized === 0,
      "a closed shard may be under budget by at most one chunk")
    // deterministic: a rerun yields the identical layout
    assert(s.collect().toSeq ===
      PrepQueries.qPrepShard.run(spark, sf).collect().toSeq)
  }

  test("sample: deterministic, ~20%, and independent of the split hash") {
    val a = PrepQueries.qPrepSample.run(spark, sf).collect()
    val b = PrepQueries.qPrepSample.run(spark, sf).collect()
    assert(a.toSeq === b.toSeq, "the kept set must be stable across runs")
    val rate = a.length / 500.0
    assert(rate > 0.12 && rate < 0.28, s"rate=$rate")
    // the '#s' salt decorrelates sampling from split assignment: the
    // sampled fraction inside each split must stay near the global rate
    val sampled = a.map(_.getLong(0)).toSet
    val bySplit = PrepQueries.qPrepSplit.run(spark, sf).collect()
      .groupBy(_.getString(1))
      .map { case (k, rs) =>
        k -> rs.count(r => sampled(r.getLong(0))).toDouble / rs.length }
    bySplit.foreach { case (split, r) =>
      assert(r > 0.05 && r < 0.45, s"split $split sampled at $r")
    }
  }

  test("pack: blocks tile the token stream exactly — no gap, overlap, or overflow") {
    val rows = PrepQueries.qPrepPack.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // every emitted range is non-empty and well-ordered
    assert(rows.forall { case (_, _, s, e) => s >= 0 && s < e })
    // per doc: ranges tile [0, n_tok) contiguously — every token of
    // every doc lands in exactly one block
    val nTok = Tables.spread(Tables(spark, sf, "documents"))
      .selectExpr("doc_id", "cast(size(split(text, ' ')) as long) n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._2).foreach { case (doc, rs) =>
      val spans = rs.sortBy(_._3).map(r => (r._3, r._4))
      assert(spans.head._1 === 0L, s"doc $doc starts at ${spans.head._1}")
      assert(spans.last._2 === nTok(doc), s"doc $doc truncated")
      spans.sliding(2).foreach {
        case Array((_, e1), (s2, _)) =>
          assert(e1 === s2, s"doc $doc gap/overlap at $e1 vs $s2")
        case _ =>
      }
    }
    // full independent re-derivation: the single sequential cursor a
    // one-machine packer would run (md5 order, +1 separator per doc,
    // cut at 2048) must produce the IDENTICAL manifest — proving the
    // distributed two-level prefix sum equals the sequential scan
    def md5hex(x: String) = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    var cursor = 0L
    val expected = nTok.keys.toSeq
      .sortBy(id => (md5hex(id.toString), id)).flatMap { id =>
        val g = cursor
        cursor += nTok(id) + 1
        (g / 2048 to (g + nTok(id) - 1) / 2048).map { blk =>
          (blk, id, math.max(g, blk * 2048) - g,
            math.min(g + nTok(id), (blk + 1) * 2048) - g)
        }
      }.toSet
    assert(rows.toSet === expected,
      "distributed packing diverges from the sequential cursor")
  }

  test("decontam: flags the planted benchmark duplicate, never the benchmark itself") {
    val d = PrepQueries.qPrepDecontam.run(spark, sf).collect()
    assert(d.nonEmpty, "the corpus contains a planted near-dup of a benchmark doc")
    assert(d.forall(_.getLong(0) >= 10), "benchmark docs must not flag themselves")
    assert(d.forall(_.getLong(1) >= 20))
  }
}
