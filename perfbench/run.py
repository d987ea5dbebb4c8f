#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <query|ingest> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. A run builds the program and the
benchmark with sbt (perfbench/build.sbt compiles ../src/main/scala
together with perfbench/src) whenever those sources or the build files
differ from the last build, keyed on a hash of their contents; otherwise it
reuses the last build's classpath. After a build it writes the static
corpus once (perfbench.Corpus, in a JVM of its own), as the benchmark's
input. Each timed run then starts one JVM, which prints the effective
session conf and, as the last line of standard output, the result object
{"correct", "attempted", "failed", "metrics"}. Nothing is printed as a
result if the build or the run fails; the exit code is then non-zero.

Workloads (end-to-end metrics op_p50_ms, work_s, setup_s and heap_live_mb
in both):
  query   the query plane over the static corpus with no feed: the reference
          client's six-GET round, open loop at 3 GET/s, then two timed
          passes over eight registry rows. op = GET latency from its due
          time (each route's median, averaged over the six routes);
          work = the registry total (sum of each row's faster pass).
  ingest  the write path: the wire feed POSTed every 250 ms (garbled,
          non-numeric and late lines included), then three gzip
          station-year files POSTed one per wave. No reader runs in the
          timed phases; a traced run adds a phase of the feed beside a
          closed-loop reader of the same round, for the query door's
          per-layer figures under the feed.
          op = freshness, from a POST's due time until all four sinks
          committed it; work = the median bulk wave, from its POST until all
          four sinks committed it, less the wait for the next trigger.
setup_s runs from the JVM's start to the measured phase: session start, the
answer key, the checking registry pass and warm rounds (query), or a warm
leg of the feed drained through all four sinks (ingest). heap_live_mb is
the live heap after the measured phase less the live heap read just before
the program started, so the benchmark's own data is not counted.
Deliberate gaps: wire to answer (a GET returning a reading just POSTed)
waits until the query door reads the ingest tables, and stepped capacity
sweeps are left out because they do not repeat within a tenth; the bulk
load stands in for ingest capacity.

Everything a run writes stays under perfbench/target, perfbench/project and
perfbench/work. A traced run (--trace 1) also leaves its spans, per-layer
metrics and layer self-times in perfbench/work/trace-<workload>.json, with
the tracing overhead against the last untraced run of that workload (on
ingest, the heap figure's overhead also holds the traced run's extra phase).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = "perfbench"
WORKLOADS = ("query", "ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 560
CORPUS_TIMEOUT_S = 120  # with the two above, inside the 900 s a building run may take
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build compiles or is configured by."""
    h = hashlib.sha256()
    roots = [os.path.join("src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, dirs, names in os.walk(root):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(cache_file, key):
    """Compile with sbt unless the last build was of these very sources
    (`key`); return the runtime classpath."""
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cached = json.load(f)
        if cached.get("sources") == key:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        fail("build failed")
    cp = lines[-1].strip()
    if "classes" not in cp:
        sys.stderr.write(p.stdout)
        fail("build printed no classpath")
    with open(cache_file, "w") as f:
        json.dump({"sources": key, "classpath": cp}, f)
    return cp


def jvm(cp, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # System.gc() from Spark's periodic cleaner runs as a concurrent cycle,
    # as in the repo's own bench JVM, not as a full pause inside a timing
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:+ExplicitGCInvokesConcurrent",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return cmd + ["-cp", cp]


def prepare_corpus(cp, work, key):
    """Write the static corpus once per build, before any timed run: it is
    the benchmark's input, so its writing is no part of set-up time."""
    corpus = os.path.join(work, "corpus")
    marker = os.path.join(corpus, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == key:
                return
    shutil.rmtree(corpus, ignore_errors=True)
    try:
        p = subprocess.run(jvm(cp, work) + ["perfbench.Corpus", work, corpus],
                           stdout=sys.stderr, stderr=sys.stderr, timeout=CORPUS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("writing the corpus timed out")
    if p.returncode != 0:
        fail("writing the corpus failed")
    with open(marker, "w") as f:
        f.write(key)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run unwinds, so the children it started are stopped
    # (subprocess.run kills its child on the way out, the JVM below in a
    # finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the benchmark drives the repo's own sources; without them it cannot run
    if not os.path.isfile(os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the root of a checkout: src/main/scala is missing")
    if not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        fail(f"{BENCH}/build.sbt is missing")

    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    key = source_hash()
    cp = build(os.path.join(BENCH, "target", "build.json"), key)

    work = os.path.join(BENCH, "work")
    for d in ("ingest", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    prepare_corpus(cp, work, key)

    cores = len(os.sched_getaffinity(0))
    cmd = jvm(cp, work) + ["perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--bench-dir", BENCH, "--cores", str(cores)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        # on a timeout or a SIGTERM to this script, the JVM goes too
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if proc.returncode != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write(out)
        fail(f"run failed (exit {proc.returncode})")

    last = os.path.join(work, f"untraced-{args.workload}.json")
    if args.trace == 0:
        with open(last, "w") as f:
            json.dump(result, f)
    else:
        record_overhead(os.path.join(work, f"trace-{args.workload}.json"), last)

    for l in lines[:-1]:
        print(l)
    print(json.dumps(result), flush=True)


def record_overhead(trace_file, untraced_file):
    """Tracing overhead: the traced run's end-to-end numbers (kept in the
    trace file) minus those of the last untraced run of the workload."""
    if not os.path.exists(trace_file):
        return
    with open(trace_file) as f:
        trace = json.load(f)
    if os.path.exists(untraced_file):
        with open(untraced_file) as f:
            base = json.load(f)["metrics"]
        traced = trace.get("end_to_end", {})
        trace["overhead"] = {k: traced[k] - v["value"] for k, v in base.items()
                             if k in traced and isinstance(v.get("value"), (int, float))
                             and isinstance(traced[k], (int, float))}
    else:
        trace["overhead"] = None
    with open(trace_file, "w") as f:
        json.dump(trace, f)


if __name__ == "__main__":
    main()
