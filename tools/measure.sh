#!/bin/bash
# Per-query measurement harness for optimization rounds: times N reps of
# selected registered queries (Bench methodology: .count() action, AQE on,
# shuffle.partitions = cores, warmup rep at sf0.001) and writes each query's
# .explain("formatted"), taken from the last timed rep's frame (graph
# queries with eager loops run them while the frame is built, so a separate
# build for the plan would run them once more), to a file. Rep 1 is the
# query's first run at the target scale (colder JIT and caches), so it is
# printed apart as `first=`; med/min/max cover reps 2..N when N >= 2.
# Dev tooling only — the shipped library has no dependency on it.
#
# Usage: tools/measure.sh <outDir> <q1,q2,...> [reps] [cores] [sfDir]
# CLASSES (default: this checkout's target/scala-2.13/classes) and
# DRIVER_MEM (default 32g) override the class path and driver heap, so the
# same script can time another checkout's build on a smaller host.
set -e
OUT="$1"; NAMES="$2"; REPS="${3:-3}"; CORES="${4:-32}"
SFDIR="${5:-/root/testdata/sf0.1}"
CLASSES="${CLASSES:-$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes}"
DRIVER_MEM="${DRIVER_MEM:-32g}"
mkdir -p "$OUT"
cat > "$OUT/_measure.scala" <<EOF
val names = "$NAMES".split(",").toSeq
val sfDir = "$SFDIR"
val reps = $REPS
val qs = graft.SparkEntry.queries
import org.apache.spark.sql.execution.ExplainMode
names.foreach { n =>
  val fn = qs(n)
  try { fn(spark, "/root/testdata/sf0.001").count() } catch { case _: Throwable => () }
  spark.catalog.clearCache()
  val all = (1 to reps).map { rep =>
    spark.sparkContext.setJobDescription(n)
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    df.count()
    val dt = (System.nanoTime() - t0) / 1e9
    if (rep == reps) {
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get("$OUT", n + ".txt"), plan)
    }
    spark.catalog.clearCache(); System.gc()
    dt
  }
  val ts = (if (all.length >= 2) all.tail else all).sorted
  val med = if (ts.length % 2 == 1) ts(ts.length / 2)
            else (ts(ts.length / 2 - 1) + ts(ts.length / 2)) / 2.0
  println(f"MEASURE \$n%s first=\${all.head}%.4f med=\$med%.4f min=\${ts.head}%.4f max=\${ts.last}%.4f")
}
EOF
# EXTRA_CONFS: optional space-separated --conf k=v pairs for config A/Bs
(cat "$OUT/_measure.scala"; echo :quit) | /opt/spark/bin/spark-shell \
  --master "local[$CORES]" \
  --driver-class-path "$CLASSES" \
  --driver-memory "$DRIVER_MEM" \
  --conf spark.sql.shuffle.partitions="$CORES" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.ui.enabled=false $EXTRA_CONFS 2>/dev/null | tr "\\r" "\\n" | grep -E "MEASURE"
