#!/usr/bin/env python3
"""Reference-pipeline benchmark: raster ingest, cell reads, appends beside
reads, driven through the store's public API.

    python3 perfbench/run.py --workload raster_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark with sbt (offline); later runs reuse the build until a source
changes. One JVM runs the workload on local[n], n = min(4, cores), and
writes every sample to perfbench/out/<workload>-seed<n>-trace<t>.detail.json.
This script turns that file into the metrics BENCHMARK.json names, writes
them to perfbench/out/<...>.json, and prints two lines: a summary with
provenance, then the result line. It exits non-zero when any result was
wrong or the run failed.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench.classpath")
# Class-data archive of the classes a run loads: it cuts JVM and engine
# start-up by several seconds a run. The first run after a build records it.
ARCHIVE_FILE = os.path.join(HERE, "target", "perfbench.jsa")
RUN_LIMIT_S = 170  # the whole run, build excluded

# Spark on JDK 17 outside spark-submit needs these (as the program's build
# passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose change needs a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs]
    return files


def build():
    """Compile the program and the benchmark into jars; return the runtime
    classpath. A fresh build drops the class-data archive."""
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= newest:
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    log("building program and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=420, stdin=subprocess.DEVNULL)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout)
        raise SystemExit("perfbench: build failed")
    cp = lines[-1]
    if os.path.exists(ARCHIVE_FILE):
        os.remove(ARCHIVE_FILE)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    return cp


def cores():
    return min(4, len(os.sched_getaffinity(0)))


def java(cp, jvm_flags, args, work, n, timeout):
    """Run the benchmark's JVM in a clean work directory; return its exit
    code. Its output goes to stderr."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += jvm_flags + ["-cp", cp, "perfbench.Main"] + args + ["--work", work, "--cores", str(n)]
    try:
        return subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, timeout=timeout).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


def load_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    contract = load_contract()
    if a.workload not in {w["name"] for w in contract["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: the program's {need} is missing; nothing to measure")

    cp = build()
    started = time.monotonic()
    n = cores()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_dir = os.path.join(HERE, "out")
    detail_path = os.path.join(out_dir, tag + ".detail.json")
    if os.path.exists(detail_path):
        os.remove(detail_path)
    flags = ["-XX:" + ("SharedArchiveFile=" if os.path.exists(ARCHIVE_FILE)
                       else "ArchiveClassesAtExit=") + ARCHIVE_FILE]
    try:
        code = java(cp, flags,
                    ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--out", detail_path],
                    os.path.join(HERE, "work"), n, RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: run exceeded {RUN_LIMIT_S} s")
    if not os.path.exists(detail_path):
        raise SystemExit(f"perfbench: the run failed (exit {code}) before writing results")

    with open(detail_path) as f:
        d = json.load(f)
    attempted, failed = stats.counts(d)
    e2e = stats.end_to_end(d)
    layers = stats.per_layer(d) if a.trace else {}
    wanted = contract["per_layer"] if a.trace else contract["end_to_end"]
    values = dict(e2e, **layers)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    correct = code == 0 and failed == 0 and all(
        v["value"] == v["value"] for v in metrics.values())  # NaN: a metric went unmeasured
    prov = d["provenance"]
    result = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": n,
        "wall_s": round(time.monotonic() - started, 2),
        "attempted": attempted, "failed": failed,
        "failed_op_frac": failed / attempted, "failures": d["failures"],
        "end_to_end": e2e, "per_layer": layers,
        "layer_self_s": stats.layer_self_seconds(d["spans"]),
        "query_tail": stats.tail_percentile(
            [s["ms"] for s in stats.by_kind(d["samples"]).get("query", [])]),
        "sizes": d["sizes"], "provenance": prov,
    }
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(result, f, indent=1)
    summary = {
        "workload": a.workload, "n": attempted, "n_failed": failed,
        "steal_pct": round(prov["steal_pct"], 3), "load": round(prov["load_end"], 2),
        "metrics": {k: [round(v["value"], 4), v["unit"]] for k, v in metrics.items()},
    }
    print(json.dumps(summary, separators=(",", ":")))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
