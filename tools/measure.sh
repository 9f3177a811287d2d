#!/bin/bash
# Per-query measurement harness for optimization rounds: times N reps of
# selected registered queries (Bench methodology: a count of the result,
# AQE on, shuffle.partitions = cores, warmup rep at sf0.001). Each listed
# query runs in its own spark-shell, so its time does not depend on which
# queries ran before it. From the last timed rep it writes two plans:
#   <q>.txt        the query frame's pre-execution .explain("formatted"),
#                  taken before the count runs (stable from run to run, so
#                  a before/after diff shows plan changes, not drift);
#   <q>.final.txt  the final adaptive plan of the count that ran.
# Both mask `plan_id=`: it numbers every physical node the JVM has built,
# and AQE re-planning makes that count vary between runs of one commit.
# Graph queries with eager loops run them while the frame is built, so
# both plans come from the timed rep's frame rather than a separate build;
# the explain itself is not timed. Rep 1 is the query's first run at the
# target scale (colder JIT and caches), so it is printed apart as
# `first=`; med/min/max cover reps 2..N when N >= 2.
# Dev tooling only — the shipped library has no dependency on it.
#
# Usage: tools/measure.sh <outDir> <q1,q2,...> [reps] [cores] [sfDir]
# CLASSES (default: this checkout's target/scala-2.13/classes) and
# DRIVER_MEM (default 32g) override the class path and driver heap, so the
# same script can time another checkout's build on a smaller host.
set -e
OUT="$1"; NAMES="$2"; REPS="${3:-3}"; CORES="${4:-32}"
SFDIR="${5:-/root/testdata/sf0.1}"
WARMDIR="$(dirname "$SFDIR")/sf0.001"   # the warm-up scale, beside the target
CLASSES="${CLASSES:-$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes}"
DRIVER_MEM="${DRIVER_MEM:-32g}"
mkdir -p "$OUT"
for N in ${NAMES//,/ }; do
# one block, so the REPL reads it as one statement
cat > "$OUT/_measure.scala" <<EOF
{
val n = "$N"
val sfDir = "$SFDIR"
val reps = $REPS
val fn = graft.SparkEntry.queries(n)
import org.apache.spark.sql.execution.ExplainMode
def write(file: String, text: String): Unit =
  java.nio.file.Files.writeString(java.nio.file.Paths.get("$OUT", file),
    text.replaceAll("plan_id=[0-9]+", "plan_id=_"))
val formatted = ExplainMode.fromString("formatted")
try { fn(spark, "$WARMDIR").count() } catch { case _: Throwable => () }
spark.catalog.clearCache()
val all = (1 to reps).map { rep =>
  spark.sparkContext.setJobDescription(n)
  val t0 = System.nanoTime()
  val df = fn(spark, sfDir)
  val built = System.nanoTime() - t0
  if (rep == reps) write(n + ".txt", df.queryExecution.explainString(formatted))
  val t1 = System.nanoTime()
  // what Dataset.count() runs, kept as a frame so its final plan is readable
  val counted = df.groupBy().count()
  counted.collect()
  val dt = (built + System.nanoTime() - t1) / 1e9
  if (rep == reps) write(n + ".final.txt", counted.queryExecution.explainString(formatted))
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
  --conf spark.ui.enabled=false $EXTRA_CONFS 2>/dev/null | tr "\\r" "\\n" | grep -oE "MEASURE.*"
done
