#!/usr/bin/env python3
"""Benchmark of the Bunsen path: FHIR ingest, terminology build, cohort
queries, and persisted-index streaming, each driven through the library's
public functions.

One run:
    python3 perfbench/run.py --workload cohort_query --seed 7 --seconds 10 --trace 0

builds the library and the harness from source on first use (sbt, offline),
then runs one JVM that generates the seeded inputs, sets up, measures for
--seconds, checks every output, and prints as its last line one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1 (spans are written to
perfbench/out/spans/).

Repeat mode prints each end-to-end metric's spread against its bound:
    python3 perfbench/run.py --workload ann_index_stream --repeat 5

Baseline mode writes the traced per-layer baseline (perfbench/baseline/):
    python3 perfbench/run.py --baseline

The harness's own tests (percentiles, self time, metric names, generator
determinism) run with `sbt perfbench/test` inside perfbench/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "source.stamp")
OUT = os.path.join(HERE, "out")
WORKLOADS = ["cohort_query", "ann_index_stream"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of the names, sizes and mtimes of every input to the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile the library and the harness; cache the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return open(CLASSPATH).read().strip()
    log("building (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t = time.time()
    code, out = run_group(["sbt", "--batch", "export Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out)
        raise SystemExit(f"build failed (exit {code})")
    cp = re.sub(r"^\[info\]\s*", "", lines[-1]).strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.0f}s")
    return cp


def run_once(cp, workload, seed, seconds, trace):
    """One JVM run; returns (result dict, report lines)."""
    work = os.path.join(OUT, f"run-{os.getpid()}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--t0-ns", str(time.time_ns())]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines:
        raise SystemExit(f"run failed (exit {code})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result line: {lines[-1]}")
    return result, lines[:-1]


def load_spec():
    with open(SPEC) as f:
        return json.load(f)


def repeat(cp, workload, n, seconds):
    """Run a workload n times on seeds 1..n; print each end-to-end metric's
    quartile spread as a share of its median, against its bound."""
    spec = load_spec()
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(1, n + 1):
        result, _ = run_once(cp, workload, seed, seconds, 0)
        print(json.dumps(result), flush=True)
        for k in values:
            values[k].append(result["metrics"][k]["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        verdict = "ok" if spread < m["bound"] / 3 else ("within-bound" if spread <= m["bound"] else "TOO-WIDE")
        print(f"{workload:18s} {m['name']:22s} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
              f"spread={spread:.4f} bound={m['bound']} {verdict}", flush=True)


def report_values(lines):
    vals = {}
    for l in lines:
        parts = l.split()
        if len(parts) >= 3 and parts[0] == "metric":
            vals[parts[1]] = float(parts[2])
    return vals


def baseline(cp, seconds):
    """Untraced and traced run of each workload on seed 1: the per-layer
    table, the dominant layer, and the tracing overhead (traced minus
    untraced op_p50_s and wall time)."""
    out_dir = os.path.join(HERE, "baseline")
    os.makedirs(out_dir, exist_ok=True)
    doc = {"seed": 1, "seconds": seconds, "cores": 4, "workloads": {}}
    for w in WORKLOADS:
        t = time.time()
        plain, plain_lines = run_once(cp, w, 1, seconds, 0)
        plain_wall = time.time() - t
        t = time.time()
        traced, traced_lines = run_once(cp, w, 1, seconds, 1)
        traced_wall = time.time() - t
        trace = dict(kv.split("=", 1) for l in traced_lines if l.startswith("trace ")
                     for kv in l.split()[1:])
        off = report_values(plain_lines)
        on = report_values(traced_lines)
        doc["workloads"][w] = {
            "correct": plain["correct"] and traced["correct"],
            "report": off,
            "dominant_layer": trace.get("dominant_layer"),
            "setup_dominant_layer": trace.get("setup_dominant_layer"),
            "dominant_engine_layer": trace.get("dominant_engine_layer"),
            "engine_split": {k: trace[k] for k in ("catalyst", "spark", "driver") if k in trace},
            "tracing_overhead": {
                "op_p50_s_untraced": off["op_p50_s"], "op_p50_s_traced": on["op_p50_s"],
                "op_p50_s_traced_minus_untraced": on["op_p50_s"] - off["op_p50_s"],
                "run_wall_s_untraced": plain_wall, "run_wall_s_traced": traced_wall},
            "end_to_end": {k: v["value"] for k, v in plain["metrics"].items()},
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
        }
        log(f"baseline {w}: dominant layer {trace.get('dominant_layer')}")
    with open(os.path.join(out_dir, "layers_seed1.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    ws = list(doc["workloads"])
    rows = ["| metric | " + " | ".join(ws) + " |", "|---|" + "---|" * len(ws)]
    for key in ("dominant_layer", "setup_dominant_layer", "dominant_engine_layer"):
        rows.append(f"| {key} | " + " | ".join(str(doc["workloads"][w][key]) for w in ws) + " |")
    for k in ("op_p50_s_untraced", "op_p50_s_traced", "op_p50_s_traced_minus_untraced"):
        rows.append(f"| tracing: {k} | " + " | ".join(
            f"{doc['workloads'][w]['tracing_overhead'][k]:.4g}" for w in ws) + " |")
    for k in doc["workloads"][ws[0]]["per_layer"]:
        rows.append(f"| {k} | " + " | ".join(
            f"{doc['workloads'][w]['per_layer'][k]:.4g}" for w in ws) + " |")
    with open(os.path.join(out_dir, "layers_seed1.md"), "w") as f:
        f.write(f"Per-layer baseline, seed 1, --seconds {seconds}, local[4]. "
                "Written by `python3 perfbench/run.py --baseline`.\n\n" + "\n".join(rows) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, help="run the workload N times (seeds 1..N) and print spreads")
    ap.add_argument("--baseline", action="store_true", help="write the traced per-layer baseline")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("library sources (src/main/scala/graft) not found next to perfbench/")
    seconds = a.seconds or load_spec()["run_seconds"]
    cp = build()
    if a.baseline:
        baseline(cp, seconds)
    elif a.workload is None:
        ap.error("--workload is required")
    elif a.repeat:
        repeat(cp, a.workload, a.repeat, seconds)
    else:
        result, lines = run_once(cp, a.workload, a.seed, seconds, a.trace)
        for l in lines:
            print(l)
        print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
