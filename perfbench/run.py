#!/usr/bin/env python3
"""Benchmark runner: builds the program and the harness from source, then
runs one workload in a fresh JVM and prints the harness's JSON result as
its last line.

    python3 perfbench/run.py --workload dns_drain --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --spec      # generator / renderer specs

Build outputs and run scratch live under .bench_build/perfbench in the
checkout. Spark is taken from $SPARK_HOME, else the jar directory the
program's own build names (`unmanagedBase` in build.sbt), else the
installed pyspark package; its jars carry the Scala compiler. On `corpus_store` the
runner also compares each query's result with its DuckDB oracle.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import pathlib
import re
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src" / "main" / "scala"
SPEC_SRC = HERE / "src" / "test" / "scala"
ARCHIVE = BUILD / "perfbench.jsa"
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars() -> str:
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(pathlib.Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(pathlib.Path(m.group(1)))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        candidates.append(pathlib.Path(spec.submodule_search_locations[0]) / "jars")
    for c in candidates:
        if glob.glob(str(c / "scala-compiler-*.jar")):
            return str(c / "*")
    fail("no Spark installation with a Scala compiler found")


def sources(*dirs: pathlib.Path):
    return sorted(p for d in dirs for p in d.rglob("*") if p.is_file())


def digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_scala(jars: str, classpath: str, out: pathlib.Path, files):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-classpath", classpath, "-d", str(out)]
    cmd += [str(f) for f in files if f.suffix == ".scala"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")


def build(jars: str, with_specs: bool = False) -> str:
    """Compile the program and the harness into one jar and make the
    JVM's class-data sharing archive for it (once per source state);
    returns the runtime classpath."""
    if not PROGRAM_SRC.is_dir():
        fail(f"program sources not found at {PROGRAM_SRC}")
    main_files = sources(PROGRAM_SRC, PROGRAM_RES, BENCH_SRC)
    classes = BUILD / "classes"
    jar = BUILD / "perfbench.jar"
    stamp = BUILD / "classes.stamp"
    jar_files = sorted(glob.glob(jars))
    key = digest(main_files) + "".join(
        f"\n{os.path.basename(j)} {os.path.getsize(j)}" for j in jar_files)
    cp = f"{jar}{os.pathsep}{jars}"
    if not (stamp.exists() and stamp.read_text() == key):
        stamp.unlink(missing_ok=True)
        compile_scala(jars, jars, classes, main_files)
        if PROGRAM_RES.is_dir():
            shutil.copytree(PROGRAM_RES, classes, dirs_exist_ok=True)
        with zipfile.ZipFile(jar, "w") as z:
            for f in sorted(classes.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(classes).as_posix())
        train(cp)
        stamp.write_text(key)
    if with_specs:
        spec_classes = BUILD / "spec-classes"
        compile_scala(jars, cp, spec_classes, sources(SPEC_SRC))
        cp = f"{spec_classes}{os.pathsep}{cp}"
    return cp


def train(cp: str):
    """Dump the class-data sharing archive from one training run. Runs
    without it (slower JVM start, same measurements) if that fails."""
    ARCHIVE.unlink(missing_ok=True)
    work = BUILD / "train"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    cmd = java_cmd(cp, work / "tmp", "perfbench.Train", ["--work", str(work)],
                   [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=600)
    shutil.rmtree(work)
    if r.returncode != 0:
        ARCHIVE.unlink(missing_ok=True)
        print("perfbench: no class-data sharing archive", file=sys.stderr)


def java_cmd(cp: str, tmp: pathlib.Path, main: str, args, share=None):
    if share is None:
        share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.exists() else []
    # -Xlog:disable: JVM warnings would go to stdout, before the result
    opts = share + ["-Xlog:disable"]
    opts += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    # -UsePerfData: no hsperfdata file outside the checkout
    opts += ["-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads",
             "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Dfile.encoding=UTF-8",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    return ["java", *opts, "-cp", cp, main, *args]


def oracle_mismatches(work: pathlib.Path):
    """Compares each query result the harness wrote under
    corpus-results/ with its oracle SQL run by DuckDB over the same
    generated tables: same columns, same rows (floats to 1e-9
    relative). Returns one message per mismatching query."""
    try:
        import duckdb
    except ImportError:
        return ["duckdb is not installed, so no oracle compare ran"]
    con = duckdb.connect()
    tables = work / "corpus"
    for t in tables.glob("*.parquet"):
        con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}/*.parquet'")
    bad = []
    sqls = sorted((work / "corpus-results").glob("*.sql"))
    if not sqls:
        return ["no query results were written"]

    def canon(rel):
        cols = sorted(rel.columns)
        rows = rel.fetchall()
        idx = [rel.columns.index(c) for c in cols]
        return cols, sorted((tuple(r[i] for i in idx) for r in rows), key=repr)

    def same(a, b):
        if isinstance(a, float) and isinstance(b, float):
            return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))
        if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
            return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
        return a == b

    for f in sqls:
        name = f.stem
        try:
            mc, mine = canon(con.sql(
                f"SELECT * FROM '{work / 'corpus-results' / name}/*.parquet'"))
            rc, ref = canon(con.sql(f.read_text()))
            if mc != rc:
                bad.append(f"{name}: columns {mc} != oracle {rc}")
            elif len(mine) != len(ref) or not all(same(a, b) for a, b in zip(mine, ref)):
                bad.append(f"{name}: {len(mine)} rows differ from the oracle's {len(ref)}")
        except Exception as e:  # a failing compare is a failed check
            bad.append(f"{name}: oracle compare failed: {e}")
    return bad


def run_jvm(cmd, work: pathlib.Path, oracle: bool) -> int:
    """Run the JVM in its own process group; relay stderr, keep stdout,
    print its last line. Kills the group on timeout. With `oracle`, a
    result whose query outputs differ from DuckDB's is marked failed."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {TIMEOUT_S} s", 3)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if p.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        fail(f"harness exited with {p.returncode} and no result", 4)
    result, code = lines[-1], p.returncode
    if oracle:
        bad = oracle_mismatches(work)
        for b in bad:
            print(f"check failed: {b}", file=sys.stderr)
        if bad:
            r = json.loads(result)
            r["correct"] = False
            r["failed"] = min(r["attempted"], r["failed"] + len(bad))
            result, code = json.dumps(r), 1
    print(result, flush=True)
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spec", action="store_true",
                    help="run the harness's own specs instead of a workload")
    a = ap.parse_args()
    jars = spark_jars()
    cp = build(jars, with_specs=a.spec)
    work = BUILD / "work"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    if a.spec:
        r = subprocess.run(java_cmd(cp, work / "tmp", "perfbench.Specs",
                                    ["--work", str(work)]))
        sys.exit(r.returncode)
    if not a.workload:
        fail("--workload is required")
    sys.exit(run_jvm(java_cmd(cp, work / "tmp", "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", str(work)]), work, a.workload == "corpus_store"))


if __name__ == "__main__":
    main()
