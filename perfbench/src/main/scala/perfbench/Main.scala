package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used so far, not counting its JIT
    * compiler threads: compilation is the JVM warming up, and after the
    * warm-up it still made up half of a drain's CPU time, varying from
    * run to run. Needs the compiler threads to live for the whole run
    * (`-XX:-UseDynamicNumberOfCompilerThreads`). */
  def cpuS(): Double = os.getProcessCpuTime / 1e9 - compilerCpuS()

  /** CPU seconds of the C1/C2 compiler threads, from /proc/self/task. */
  private def compilerCpuS(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val comm = Files.readString(t.toPath.resolve("comm"))
        if (!comm.contains("CompilerThre")) 0L
        else {
          val stat = Files.readString(t.toPath.resolve("stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong // utime + stime, in 1/100 s ticks
        }
      } catch { case _: Exception => 0L }
    }.sum / 100.0
  }

  /** (steal, total) jiffies over all CPUs from /proc/stat. */
  def jiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }
}

object Stats {
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** What one measured window produced. `work` holds one wall time per
  * unit of work, `cpu` the JVM's CPU seconds per unit of work (per
  * 1,000 input records on the DNS workloads, per pass on
  * `corpus_store`), and `latencies` one time per op. */
final case class Outcome(attempted: Int, failed: Int, work: Seq[Double],
    cpu: Seq[Double], latencies: Seq[Double], layer: Map[String, Double] = Map.empty,
    errors: Seq[String] = Nil, invalidUnits: Int = 0)

/** Per-run context shared by the workloads. */
final case class Ctx(work: Path, seed: Long, spans: Spans) {
  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** A workload: `setup` readies a fresh session for the first timed op
  * (and may be repeated), `measure` runs timed ops for `seconds`. */
trait Workload {
  def setup(spark: SparkSession, round: Int): Unit
  def release(): Unit = ()
  def measure(spark: SparkSession, seconds: Double, trace: Option[Trace]): Outcome
  /** Per-layer probes that run after the traced window (e.g. prefix
    * timings); their cost is not part of any end-to-end metric. */
  def probe(spark: SparkSession): Map[String, Double] = Map.empty
  /** Whether the first unit of a run is still cold (no warm-up in
    * set-up); a traced run then measures one unit first and drops it,
    * so the trace overhead compares warm units. */
  def coldFirstUnit: Boolean = false
  /** Output checks that run once after the window; returns failures. */
  def finish(spark: SparkSession): Seq[String] = Nil
  /** Stops what the workload started; returns the number of datagrams
    * that arrived while no unit was expecting any. */
  def close(): Int
}

/** Benchmark entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints one JSON line last: correct, attempted, failed and the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1). */
object Main {

  val SetupRounds = 3

  /** Wall-clock latency and drain time are per-layer, not end to end: on
    * a 4-vCPU VM with 10–25% steal their run-to-run spread reached
    * 20–70%, beyond the largest bound allowed; CPU time per record
    * moved far less. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_cpu_s" -> "s", "peak_rss_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "frontdoor.ack_p50_s" -> "s", "frontdoor.ack_p99_s" -> "s",
    "frontdoor.accepted" -> "count", "frontdoor.rejected" -> "count",
    "stream.batches" -> "count", "stream.trigger_p50_s" -> "s",
    "stream.trigger_max_s" -> "s", "stream.add_batch_s" -> "s",
    "stream.latest_offset_s" -> "s", "stream.query_planning_s" -> "s",
    "stream.wal_commit_s" -> "s", "stream.backlog_end" -> "count",
    "dns.gate_s" -> "s", "dns.decode_s" -> "s", "dns.format_s" -> "s",
    "dns.sink_s" -> "s", "dns.side_output_s" -> "s",
    "dns.records_per_s" -> "rec/s",
    "dns.envelopes" -> "count", "dns.rejected_envelopes" -> "count",
    "dns.records" -> "count", "dns.quarantined.base64" -> "count",
    "dns.quarantined.json" -> "count", "dns.quarantined.schema" -> "count",
    "dns.quarantined.timestamp" -> "count", "dns.lines" -> "count",
    "dns.datagrams" -> "count", "dns.bytes" -> "bytes",
    "dns.udp_rcvbuf_errors" -> "count", "dns.udp_sndbuf_errors" -> "count",
    "dns.side_files" -> "count", "dns.side_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.exchanges" -> "count",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.plan_nodes" -> "count", "spark.gc_s" -> "s",
    "dedup_s" -> "s", "graph_s" -> "s", "sim_s" -> "s",
    "dedup.q_dedup_containment_s" -> "s", "graph.q_graph_pagerank_s" -> "s",
    "sim.q_sim_hybrid_rrf_s" -> "s",
    "ingest_s" -> "s", "screen_s" -> "s", "admit_s" -> "s", "reingest_s" -> "s") ++
    (for (st <- Seq("SignatureStore", "EmbeddingSignatureStore", "TextIndex", "VectorIndex");
          ph <- Seq("ingest", "screen", "admit", "reingest")) yield s"store.$st.${ph}_s" -> "s") ++
    Seq("store.generations_on_disk" -> "count", "store.table_files" -> "count",
    "store.table_bytes" -> "bytes",
    "bench.gen_late_p99_s" -> "s", "bench.calib_cpu_s" -> "s",
    "bench.calib_fs_s" -> "s", "bench.trace_overhead_s" -> "s",
    "bench.invalid_units" -> "count", "bench.cold_setup_s" -> "s",
    "bench.setup_wall_s" -> "s", "bench.work_s" -> "s",
    "bench.latency_p50_s" -> "s", "bench.latency_p90_s" -> "s",
    "bench.latency_samples" -> "count", "bench.steal_share" -> "ratio")

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Host calibration: a fixed CPU loop and the creation of small
    * files, timed so host drift reads as its own number. */
  def calibrate(dir: Path): (Double, Double) = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("") // keeps the loop from being optimized away
    val cpu = (System.nanoTime() - t0) / 1e9
    Files.createDirectories(dir)
    val payload = new Array[Byte](4096)
    val t1 = System.nanoTime()
    (0 until 500).foreach(k => Files.write(dir.resolve(s"f$k"), payload))
    (0 until 500).foreach(k => Files.delete(dir.resolve(s"f$k")))
    (cpu, (System.nanoTime() - t1) / 1e9)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val l = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get
      l.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => 0.0 }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val runId = s"$name-$seed-${if (traced) "t" else "u"}-${System.currentTimeMillis()}"
    val ctx = Ctx(work, seed, new Spans(runId))

    val (calibCpu, calibFs) = calibrate(work.resolve("calib"))
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val w: Workload = name match {
      case "dns_drain" => new DnsDrain(ctx)
      case "dns_paced" => new DnsPaced(ctx)
      case "corpus_store" => new CorpusStore(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up is counted in CPU seconds (JIT threads excluded), like the
    // work: it shows work moved into set-up, while its wall time drifted
    // by up to 26% between two sets of runs with the host's speed
    var spark: SparkSession = null
    var coldSetup = 0.0
    val (setupWall, setupCpu) = (1 to SetupRounds).map { round =>
      if (spark != null) { w.release(); spark.stop() }
      val t0 = System.nanoTime()
      val c0 = Host.cpuS()
      ctx.spans.time(s"setup-$round") {
        spark = ctx.spans.time("session", s"setup-$round")(session(work))
        ctx.spans.time("warm-up", s"setup-$round")(w.setup(spark, round))
      }
      // the cold set-up: JVM start until the first set-up ended, less
      // the calibration probe
      if (round == 1) coldSetup = uptime.getUptime / 1000.0 - calibCpu - calibFs
      ((System.nanoTime() - t0) / 1e9, Host.cpuS() - c0)
    }.unzip

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val (steal0, total0) = Host.jiffies()
    val out: Outcome =
      if (!traced) ctx.spans.time("measure")(w.measure(spark, seconds, None))
      else {
        val cold = if (w.coldFirstUnit) Some(ctx.spans.time("measure-cold")(
          w.measure(spark, seconds / 2, None))) else None
        val plain = ctx.spans.time("measure-untraced")(w.measure(spark, seconds / 2, None))
        val tr = new Trace(spark)
        tr.attach()
        val t = ctx.spans.time("measure-traced")(w.measure(spark, seconds / 2, Some(tr)))
        tr.detach()
        metrics ++= t.layer
        metrics ++= tr.engineMetrics()
        metrics("bench.trace_overhead_s") =
          Stats.median(t.work) - Stats.median(plain.work)
        metrics ++= ctx.spans.time("probe")(w.probe(spark))
        val all = cold.toSeq ++ Seq(plain, t)
        Outcome(all.map(_.attempted).sum, all.map(_.failed).sum,
          t.work, t.cpu, t.latencies, t.layer, all.flatMap(_.errors),
          all.map(_.invalidUnits).sum)
      }
    val (steal1, total1) = Host.jiffies()
    metrics("bench.steal_share") =
      if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
    metrics("bench.cold_setup_s") = coldSetup
    metrics("bench.setup_wall_s") = Stats.median(setupWall)
    metrics("bench.work_s") = Stats.median(out.work)
    metrics("bench.latency_p50_s") = Stats.quantile(out.latencies, 0.5)
    metrics("bench.latency_p90_s") = Stats.quantile(out.latencies, 0.9)
    metrics("bench.latency_samples") = out.latencies.size
    metrics("bench.calib_cpu_s") = calibCpu
    metrics("bench.calib_fs_s") = calibFs
    metrics("bench.invalid_units") = out.invalidUnits
    val checked = ctx.spans.time("finish")(w.finish(spark))
    val stray = w.close()
    spark.stop()
    ctx.spans.write(work.resolve("spans.jsonl"))

    val e2e = Map(
      "setup_s" -> Stats.median(setupCpu),
      "work_cpu_s" -> Stats.median(out.cpu),
      "peak_rss_mb" -> peakRssMb())
    val shown = if (traced) perLayer.map { case (k, u) => (k, metrics.getOrElse(k, 0.0), u) }
      else endToEnd.map { case (k, u) => (k, e2e(k), u) }
    val errors = out.errors ++ checked ++
      (if (stray > 0) Seq(s"$stray datagrams arrived outside any unit") else Nil)
    errors.take(20).foreach(e => System.err.println(s"check failed: $e"))
    if (out.failed > 0)
      System.err.println(s"check failed: ${out.failed} of ${out.attempted} envelopes")
    System.err.println(f"perfbench: calib cpu=$calibCpu%.3f fs=$calibFs%.3f")
    System.err.println(s"perfbench: setups=${setupWall.map(x => f"$x%.3f").mkString(",")} " +
      s"setup_cpu=${setupCpu.map(x => f"$x%.3f").mkString(",")} " +
      s"work=${out.work.map(x => f"$x%.3f").mkString(",")} " +
      s"cpu=${out.cpu.map(x => f"$x%.3f").mkString(",")} ops=${out.latencies.size} " +
      f"p50=${Stats.quantile(out.latencies, 0.5)}%.3f p90=${Stats.quantile(out.latencies, 0.9)}%.3f " +
      s"invalid=${out.invalidUnits}")
    val correct = out.failed == 0 && errors.isEmpty && out.work.nonEmpty
    val body = shown.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(out.attempted, 1)}, """ +
      s""""failed": ${out.failed}, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Training run for the JVM's class-data sharing archive, made once
  * per build: sets each workload up once (and runs one corpus pass),
  * so the classes the runs load come from the archive instead of
  * hundreds of jars. `--work <dir>`. */
object Train {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(1)).toAbsolutePath
    Files.createDirectories(work)
    val ctx = Ctx(work, 1, new Spans("train"))
    val spark = Main.session(work)
    val ws = Seq(new DnsDrain(ctx), new DnsPaced(ctx), new CorpusStore(ctx))
    ws.foreach(_.setup(spark, 1))
    ws.last.measure(spark, 0, None)
    ws.foreach(_.close())
    spark.stop()
  }
}
