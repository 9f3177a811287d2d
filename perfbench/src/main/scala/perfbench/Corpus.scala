package perfbench

import graft.SparkEntry
import graft.analytics.{EmbeddingSignatureStore, QueryScopedCache, SignatureStore, TextIndex, VectorIndex}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded corpus tables in the shape of the fixture parquet files the
  * registered queries read (`documents`, `embeddings`, `orders`,
  * `lineitem`), at roughly the smallest fixture's size. Only the
  * columns the measured queries and their oracles read are written. */
object CorpusTables {
  val Docs = 500
  val Vectors = 500
  val Dim = 64
  val Orders = 1500

  private val words = ("the a fast slow big small key order sort table scan merge part " +
    "window hash join batch stream spark group query row data filter customer line " +
    "value agg column vector").split(" ")

  def write(spark: SparkSession, dir: Path, seed: Long): Unit = {
    import spark.implicits._
    val rnd = new Random(seed)
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until Docs).foreach { i =>
      // about one document in eight is a near copy of an earlier one,
      // so the dedup queries and the signature store find pairs
      val t =
        if (i > 10 && rnd.nextInt(8) == 0) {
          val ws = texts(rnd.nextInt(i)).split(" ")
          (0 until 1 + rnd.nextInt(3)).foreach(_ => ws(rnd.nextInt(ws.length)) =
            words(rnd.nextInt(words.length)))
          ws.mkString(" ")
        } else Seq.fill(20 + rnd.nextInt(60))(words(rnd.nextInt(words.length))).mkString(" ")
      texts += t
    }
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, Seq("en", "de", "es", "fr", "zh")(i % 5), s"src${i % 20}", t.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)

    val centres = Array.fill(10, Dim)(rnd.nextGaussian())
    val vecs = mutable.ArrayBuffer.empty[(Array[Float], Int)]
    (0 until Vectors).foreach { i =>
      val v =
        if (i > 10 && rnd.nextInt(10) == 0) {
          // near-duplicate vector: a jittered copy of an earlier one
          val (src, label) = vecs(rnd.nextInt(i))
          (src.map(x => (x * (1.0 + 0.001 * rnd.nextGaussian())).toFloat), label)
        } else {
          val label = rnd.nextInt(10)
          (centres(label).map(c => (c + 0.6 * rnd.nextGaussian()).toFloat), label)
        }
      vecs += v
    }
    vecs.zipWithIndex.map { case ((v, label), i) => (i.toLong, v, label) }.toSeq
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)

    val orders = (0 until Orders).map(o => (o.toLong, rnd.nextInt(150).toLong))
    orders.toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("orders.parquet").toString)
    orders.flatMap { case (o, _) =>
      (1 to 1 + rnd.nextInt(7)).map(n => (o, rnd.nextInt(10).toLong, n))
    }.toDF("l_orderkey", "l_suppkey", "l_linenumber")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("lineitem.parquet").toString)
  }
}

/** `corpus_store`: one registered query per analytics family (dedup,
  * graph, similarity), each materialized by a full collect, and the
  * lifecycle of two of the four stores, with one seed-chosen held-out
  * batch: ingest the corpus minus the batch, screen (or search) the
  * batch, admit it and reingest. Even seeds run the two signature
  * stores, odd seeds the two search indexes, whose lifecycles cost
  * about the same; all four would not fit the run's time. A pass runs
  * all of it; the window runs one pass per 10 s, at least one.
  * Set-up is a session plus the generation of the tables. */
final class CorpusStore(ctx: Ctx) extends Workload {
  val queries: Seq[(String, String)] = Seq(
    "dedup" -> "q_dedup_containment", "graph" -> "q_graph_pagerank",
    "sim" -> "q_sim_hybrid_rrf")
  val stores: Seq[String] =
    if (ctx.seed % 2 == 0) Seq("SignatureStore", "EmbeddingSignatureStore")
    else Seq("TextIndex", "VectorIndex")
  val phases: Seq[String] = Seq("ingest", "screen", "admit", "reingest")
  /** The registered query whose oracle a text index search after
    * admit + reingest must match: it runs the same lifecycle. */
  val TextReingested = "q_text_bm25_reingested"

  private val dir = ctx.dir("corpus")
  private val resultsDir = ctx.dir("corpus-results")
  private val heldOut = new Random(ctx.seed).nextInt(10)
  /** Row digests of each checked result over its runs. */
  private val digests = mutable.Map.empty[String, mutable.Set[String]]
  /** The last run of each checked result: its schema and rows. */
  private val lastResult = mutable.Map.empty[String, (StructType, Array[Row])]
  private var passes = 0

  private def path = dir.toString
  private def docs(s: SparkSession) = s.read.parquet(s"$path/documents.parquet")
    .select(col("doc_id"), col("text"))
  private def embeddings(s: SparkSession) = s.read.parquet(s"$path/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
  /** The (vec_id, v, nrm) shape VectorIndex reads. */
  private def vectors(s: SparkSession) = embeddings(s)
    .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    .withColumn("nrm", aggregate(col("v"), lit(0.0), (a, x) => a + x * x))
  private def isBatch(id: String) = col(id) % 10 === heldOut

  private def digest(rs: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Records `rs`, the collected rows of `df`, as a run of the
    * checked result `name`. */
  private def keep(name: String, df: DataFrame, rs: Array[Row]): Unit = {
    digests.getOrElseUpdate(name, mutable.Set.empty) += digest(rs)
    lastResult(name) = (df.schema, rs)
  }

  /** The document count a store recorded in its meta table. */
  private def docCount(s: SparkSession, store: String): Option[Long] = {
    val id = TableIdentifier(s"${store}_meta")
    val cat = s.sessionState.catalog
    if (!cat.tableExists(id)) None
    else cat.getTableMetadata(id).properties.get("graft.store.ndocs").map(_.toLong)
  }

  def setup(spark: SparkSession, round: Int): Unit = CorpusTables.write(spark, dir, ctx.seed)

  override def coldFirstUnit: Boolean = true

  private final case class Pass(times: Map[String, Double], cpu: Double,
      failedOps: Int, errors: Seq[String])

  private def pass(spark: SparkSession): Pass = {
    passes += 1
    val times = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    def timed[T](key: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = ctx.spans.time(key, s"pass-$passes")(f)
      times(key) = times.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
      r
    }
    var failedOps = 0
    def op(what: String)(f: => Unit): Unit = {
      val before = errors.size
      try f catch { case e: Throwable => errors += s"$what threw: $e" }
      if (errors.size > before) failedOps += 1
    }
    def expectCount(store: String, after: String, want: Long): Unit = {
      val got = docCount(spark, store)
      if (!got.contains(want)) errors += s"$store docCount after $after: $got, expected $want"
    }
    def batchSize(n: Int) = (0 until n).count(_ % 10 == heldOut).toLong
    val d = docs(spark)
    val nDocs = CorpusTables.Docs.toLong
    val nVec = CorpusTables.Vectors.toLong
    val lifecycles: Map[String, () => Unit] = Map(
      "SignatureStore" -> { () =>
        val st = "bench_sig"
        val batch = d.filter(isBatch("doc_id"))
        timed("store.SignatureStore.ingest")(SignatureStore.ingest(d.filter(!isBatch("doc_id")), st))
        expectCount(st, "ingest", nDocs - batchSize(CorpusTables.Docs))
        timed("store.SignatureStore.screen") {
          val (p, h) = SignatureStore.screen(spark, st, batch)
          QueryScopedCache.releaseAfter(p, h).collect()
        }
        timed("store.SignatureStore.admit")(SignatureStore.admit(spark, st, batch))
        expectCount(st, "admit", nDocs)
        timed("store.SignatureStore.reingest")(SignatureStore.reingest(spark, st))
        expectCount(st, "reingest", nDocs)
      },
      "EmbeddingSignatureStore" -> { () =>
        val st = "bench_emb"
        val e = embeddings(spark)
        val batch = e.filter(isBatch("vec_id"))
        timed("store.EmbeddingSignatureStore.ingest")(
          EmbeddingSignatureStore.ingest(e.filter(!isBatch("vec_id")), st))
        expectCount(st, "ingest", nVec - batchSize(CorpusTables.Vectors))
        timed("store.EmbeddingSignatureStore.screen") {
          val (p, h) = EmbeddingSignatureStore.screen(spark, st, batch)
          QueryScopedCache.releaseAfter(p, h).collect()
        }
        timed("store.EmbeddingSignatureStore.admit")(EmbeddingSignatureStore.admit(spark, st, batch))
        expectCount(st, "admit", nVec)
        timed("store.EmbeddingSignatureStore.reingest")(EmbeddingSignatureStore.reingest(spark, st))
        expectCount(st, "reingest", nVec)
      },
      "TextIndex" -> { () =>
        // the search after admit + reingest is checked against the
        // oracle of the registered query that runs the same lifecycle
        val st = "bench_text"
        def search() = TextIndex.search(spark, st, TextIndex.derivedQueries(spark, st))
        timed("store.TextIndex.ingest")(TextIndex.ingest(d.filter(!isBatch("doc_id")), st))
        expectCount(st, "ingest", nDocs - batchSize(CorpusTables.Docs))
        timed("store.TextIndex.screen")(search().collect())
        timed("store.TextIndex.admit")(TextIndex.admit(spark, st, d.filter(isBatch("doc_id"))))
        expectCount(st, "admit", nDocs)
        timed("store.TextIndex.reingest")(TextIndex.reingest(spark, st))
        expectCount(st, "reingest", nDocs)
        val df = search()
        keep(TextReingested, df, timed("store.TextIndex.screen")(df.collect()))
      },
      "VectorIndex" -> { () =>
        // VectorIndex records no document count; its search must give
        // each of the 20 queries its top 5
        val st = "bench_vec"
        val v = vectors(spark)
        timed("store.VectorIndex.ingest")(VectorIndex.ingest(v.filter(!isBatch("vec_id")), st))
        val found = timed("store.VectorIndex.screen")(
          VectorIndex.search(spark, st, v.filter(col("vec_id") < 20)).collect())
        if (found.length != 100) errors += s"VectorIndex search gave ${found.length} rows, expected 100"
        timed("store.VectorIndex.admit")(VectorIndex.admit(spark, st, v.filter(isBatch("vec_id"))))
        timed("store.VectorIndex.reingest")(VectorIndex.reingest(spark, st, v))
      })
    val cpu0 = Host.cpuS()
    queries.foreach { case (family, q) =>
      op(q) {
        val df = SparkEntry.queries(q)(spark, path)
        keep(q, df, timed(s"$family.$q")(df.collect()))
      }
    }
    stores.foreach(st => op(st)(lifecycles(st)()))
    Pass(times.toMap, Host.cpuS() - cpu0, failedOps, errors.toSeq)
  }

  def measure(spark: SparkSession, seconds: Double, trace: Option[Trace]): Outcome = {
    // a fixed number of passes per window, so every run does the same
    // work however fast the host is
    val n = math.max(1, math.round(seconds / 10).toInt)
    val ps = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      val p = pass(spark)
      (p, (System.nanoTime() - t0) / 1e9)
    }
    val errors = ps.flatMap(_._1.errors)
    val layer =
      if (trace.isEmpty) Map.empty[String, Double]
      else {
        def med(key: String) = Stats.median(ps.map(_._1.times.getOrElse(key, 0.0)))
        val perQuery = queries.map { case (f, q) => s"$f.${q}_s" -> med(s"$f.$q") }
        val perStore = for (st <- stores; ph <- phases)
          yield s"store.$st.${ph}_s" -> med(s"store.$st.$ph")
        val families = queries.map { case (f, q) => s"${f}_s" -> med(s"$f.$q") }
        val phaseSums = phases.map(ph => s"${ph}_s" -> stores.map(st => med(s"store.$st.$ph")).sum)
        val (gens, files, bytes) = onDisk(spark)
        (perQuery ++ perStore ++ families ++ phaseSums).toMap ++ Map(
          "store.generations_on_disk" -> gens, "store.table_files" -> files,
          "store.table_bytes" -> bytes)
      }
    // an op is one query run or one store lifecycle
    val ops = n * (queries.size + stores.size)
    Outcome(ops, ps.map(_._1.failedOps).sum, ps.map(_._2),
      ps.map(_._1.cpu), Nil, layer, errors)
  }

  /** (store, generation) pairs, part files and bytes the four stores
    * hold on disk; a part table is a `<store>_<part>_g<gen>` directory. */
  private def onDisk(spark: SparkSession): (Double, Double, Double) = {
    val wh = java.nio.file.Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")))
    val partTable = "(bench_(?:sig|emb|text|vec))_.*_g(\\d+)".r
    val tables = Option(wh.toFile.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => f.getName match {
        case partTable(store, gen) => Some((store, gen, f.toPath))
        case _ => None
      })
    val files = tables.flatMap { case (_, _, t) =>
      Files.walk(t).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
    }
    (tables.map(t => (t._1, t._2)).distinct.size.toDouble, files.size.toDouble,
      files.map(Files.size).sum.toDouble)
  }

  /** Writes each checked result (its last run) and its oracle SQL,
    * for the DuckDB compare the runner makes after the JVM exits,
    * after checking that every run of it gave the same rows. */
  override def finish(spark: SparkSession): Seq[String] =
    lastResult.toSeq.flatMap { case (name, (schema, rs)) =>
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
        .write.mode("overwrite").parquet(resultsDir.resolve(name).toString)
      Files.writeString(resultsDir.resolve(s"$name.sql"), SparkEntry.oracleSql(name))
      val seen = digests(name).size
      if (seen == 1) None else Some(s"$name gave $seen distinct results over its runs")
    }

  def close(): Int = 0
}
