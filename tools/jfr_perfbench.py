#!/usr/bin/env python3
"""Profiles one perfbench workload with JDK Flight Recorder and prints
where the samples fell: by thread, and by the nearest `graft.` frame on
each sampled stack.

    python3 tools/jfr_perfbench.py --workload dns_paced --seed 915 --seconds 30
    python3 tools/jfr_perfbench.py --recording .bench_build/jfr/dns_paced-915.jfr

The workload runs as `perfbench/run.py` runs it (same build, same JVM
options, same result line), with execution sampling every 1 ms and stacks
kept to 1,024 frames. JFR's default depth of 64 frames cuts most Spark
stacks above the program's own frames, so a call site could not be named.
The recording is kept under .bench_build/jfr/; `--recording` prints the
tables of an existing one without running anything.

Threads are grouped by name with numbers removed (every executor task
thread is one row). A sample's call site is its innermost frame in a
`graft.` class, or in the program's Spark bridge package; a sample with no
such frame counts under "(no graft frame)". `--match REGEX` adds, per
thread, the samples with any frame matching REGEX. The processes the JVM
started (Hadoop's local file system shells out when no native library is
loaded) are counted by command.
"""
import argparse
import collections
import importlib.util
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "jfr"
OWN = ("graft.", "org.apache.spark.sql.graftbridge.")
STREAM_THREAD = "stream execution thread"  # gets its own call-site table
TOP = 25  # rows per table

# execution samples and process starts only: the recording costs little
# beyond the sampling
SETTINGS = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="execution samples, 1 ms">
  <event name="jdk.ExecutionSample">
    <setting name="enabled">true</setting>
    <setting name="period">1 ms</setting>
  </event>
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
"""


def load_runner():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", ROOT / "perfbench" / "run.py")
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    return run


def record(workload: str, seed: int, seconds: float) -> pathlib.Path:
    """Runs the workload under JFR; returns the recording's path."""
    run = load_runner()
    OUT.mkdir(parents=True, exist_ok=True)
    jfc = OUT / "execution-1ms.jfc"
    jfc.write_text(SETTINGS)
    rec = OUT / f"{workload}-{seed}.jfr"
    rec.unlink(missing_ok=True)
    cp = run.build(run.spark_jars())
    work = run.BUILD / "work"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    share = [f"-XX:SharedArchiveFile={run.ARCHIVE}"] if run.ARCHIVE.exists() else []
    share += ["-XX:FlightRecorderOptions=stackdepth=1024",
              f"-XX:StartFlightRecording=settings={jfc},filename={rec},dumponexit=true"]
    cmd = run.java_cmd(cp, work / "tmp", "perfbench.Main", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "0", "--work", str(work)], share)
    code = run.run_jvm(cmd, work, oracle=False)
    if not rec.exists():
        sys.exit(f"jfr_perfbench: no recording written (harness exit {code})")
    return rec


def jfr_print(rec: pathlib.Path, event: str, *opts):
    jfr = shutil.which("jfr")
    if jfr is None:
        sys.exit("jfr_perfbench: the JDK's `jfr` tool is not on PATH")
    return subprocess.Popen([jfr, "print", "--events", event, *opts, str(rec)],
                            stdout=subprocess.PIPE, text=True)


def processes(rec: pathlib.Path):
    """Counts the processes the JVM started, by command name."""
    p = jfr_print(rec, "jdk.ProcessStart")
    counts = collections.Counter(
        pathlib.Path(m.group(1)).name for m in
        (re.match(r'command = "(\S+)', line.strip()) for line in p.stdout) if m)
    p.wait()
    return counts


def samples(rec: pathlib.Path):
    """Yields (thread name, frames innermost first) per execution sample."""
    p = jfr_print(rec, "jdk.ExecutionSample", "--stack-depth", "1024")
    thread, frames, in_stack = None, [], False
    for line in p.stdout:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread = "):
            m = re.match(r'sampledThread = "(.*)" \(', s)
            thread = m.group(1) if m else s
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s)
        elif s == "}" and thread is not None:
            yield thread, frames
            thread = None
    if p.wait() != 0:
        sys.exit(f"jfr_perfbench: jfr print exited with {p.returncode}")


def thread_group(name: str) -> str:
    return re.sub(r"\d+", "#", re.sub(r"\s*\[id = [^\]]*\]", "", name))


def call_site(frames) -> str:
    return next((re.sub(r"\s+", " ", f) for f in frames if f.startswith(OWN)),
                "(no graft frame)")


def report(rec: pathlib.Path, match):
    by_thread = collections.Counter()
    sites = collections.Counter()
    stream_sites = collections.Counter()
    matched = collections.Counter()
    total = 0
    for thread, frames in samples(rec):
        total += 1
        group = thread_group(thread)
        by_thread[group] += 1
        site = call_site(frames)
        sites[site] += 1
        if STREAM_THREAD in group:
            stream_sites[site] += 1
        if match and any(match.search(f) for f in frames):
            matched[group] += 1
    if total == 0:
        sys.exit(f"jfr_perfbench: no execution samples in {rec}")

    def table(title, counts, base):
        n = sum(counts.values())
        print(f"\n{title}: {n} samples, {100 * n / total:.1f}% of {total}")
        for k, v in counts.most_common(TOP):
            print(f"{v:7d} {100 * v / base:5.1f}%  {k}")

    print(f"recording: {rec}")
    table("by thread", by_thread, total)
    table("by nearest graft. frame, all threads", sites, total)
    n_stream = sum(stream_sites.values())
    if n_stream:
        table(f"by nearest graft. frame, threads named '{STREAM_THREAD}'",
              stream_sites, n_stream)
    if match:
        print(f"\nsamples with a frame matching /{match.pattern}/, "
              "share of the thread's samples:")
        for k, v in matched.most_common(TOP):
            print(f"{v:7d} {100 * v / by_thread[k]:5.1f}%  {k}")
    started = processes(rec)
    print(f"\nprocesses started: {sum(started.values())}")
    for k, v in started.most_common(TOP):
        print(f"{v:7d}  {k}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", help="a perfbench workload, e.g. dns_paced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--recording", type=pathlib.Path,
                    help="print the tables of this .jfr instead of running")
    ap.add_argument("--match", type=re.compile,
                    help="also count, by thread, the samples with a frame "
                         "matching this regex")
    a = ap.parse_args()
    if a.recording is None and not a.workload:
        ap.error("--workload or --recording is required")
    rec = a.recording or record(a.workload, a.seed, a.seconds)
    report(rec, a.match)


if __name__ == "__main__":
    main()
