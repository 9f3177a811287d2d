#!/bin/bash
# Per-OPERATOR profiler: runs one registered query warm, then reads the
# SQL status store (what the Spark UI's SQL tab renders) and prints every
# plan-graph node with its metrics, so time/rows attribute to operators,
# not opaque AQE stage names. Dev tooling only.
#
# Usage: tools/profile_sql.sh <query> [cores] [sfDir]
set -e
NAME="$1"; CORES="${2:-32}"; SFDIR="${3:-/root/testdata/sf0.1}"
# CLASSES and DRIVER_MEM as in tools/measure.sh; the probe script goes to
# $TMPDIR (default /tmp).
CLASSES="${CLASSES:-$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes}"
DRIVER_MEM="${DRIVER_MEM:-32g}"
SCRIPT="${TMPDIR:-/tmp}/_profile_sql.scala"
cat > "$SCRIPT" <<EOF
val n = "$NAME"
val fn = graft.SparkEntry.queries(n)
try { fn(spark, "/root/testdata/sf0.001").count() } catch { case _: Throwable => () }
spark.catalog.clearCache()
fn(spark, "$SFDIR").count(); spark.catalog.clearCache(); System.gc()  // warm
val store = spark.sharedState.statusStore
val before = store.executionsList().map(_.executionId).toSet
val t0 = System.nanoTime()
fn(spark, "$SFDIR").count()
val dt = (System.nanoTime() - t0) / 1e9
Thread.sleep(1500)
println(f"PROFILE \$n wall=\$dt%.3f")
store.executionsList().filterNot(e => before(e.executionId)).foreach { e =>
  val mv = store.executionMetrics(e.executionId)
  val g = store.planGraph(e.executionId)
  def nodes(c: Seq[org.apache.spark.sql.execution.ui.SparkPlanGraphNode]): Seq[org.apache.spark.sql.execution.ui.SparkPlanGraphNode] =
    c.flatMap {
      case cl: org.apache.spark.sql.execution.ui.SparkPlanGraphCluster => nodes(cl.nodes.toSeq) :+ cl
      case x => Seq(x)
    }
  nodes(g.nodes.toSeq).foreach { nd =>
    val ms = nd.metrics.flatMap(m => mv.get(m.accumulatorId).map(v => m.name + "=" + v.replace("\n", " ")))
      .filter(s => s.contains("time") || s.contains("rows") || s.contains("size") || s.contains("spill"))
    if (ms.nonEmpty) println(s"NODE exec=\${e.executionId} [\${nd.name}] \${ms.mkString(" | ")}")
  }
}
EOF
(cat "$SCRIPT"; echo :quit) | /opt/spark/bin/spark-shell \
  --master "local[$CORES]" \
  --driver-class-path "$CLASSES" \
  --driver-memory "$DRIVER_MEM" \
  --conf spark.sql.shuffle.partitions="$CORES" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.ui.enabled=false 2>/dev/null | tr "\\r" "\\n" | grep -E "PROFILE|NODE"
