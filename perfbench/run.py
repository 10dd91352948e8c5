#!/usr/bin/env python3
"""Layered benchmark of the engine's catalog rows.

    python3 perfbench/run.py --workload olap_batch --seed 1 --seconds 12 --trace 0

Builds the engine and the harness in this directory from the checkout
(sbt; the class path is cached under .perfbench_work/ until a source file
changes), runs one workload of workloads.json in one JVM at
local[<cpus>] (graft.perfbench.Main), checks every row's result (check.py)
and prints a report followed by one JSON line with the keys `correct`,
`attempted`, `failed` and `metrics`. With --trace 0 the metrics are the
end-to-end ones of BENCHMARK.json; with --trace 1 they are the per-layer
ones, and the report adds each layer's self time and the tracing overhead
on pass time.

The JVM runs at local[<the CPUs this process may use>] on the sf0.01
fixtures. Other options: --sf-dir DIR (default: $SPARK_GRAFT_SF_DIR,
else the sf0.01 directory TESTDATA.md lists), --record-expected (store
the count and hash of rows without an oracle into expected.json instead
of checking them).
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

from check import check, record

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
# Run shape, the same for every workload. sf0.01 is the scale the DuckDB
# oracles are checked at. The timed loop runs at least MIN_PASSES passes
# (of each kind when traced). The heap is fixed at HEAP from the start:
# a heap that grows on demand ran olap_batch under near-continuous
# concurrent GC cycles for its first minute, and its passes sped up by a
# third as the heap grew.
SF = "0.01"
MIN_PASSES = 3
HEAP = "4g"

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# Which layer a span's self time belongs to.
SPAN_LAYER = {"pass": "bench", "call": "bench", "build": "catalog",
              "action": "planner", "batch": "streaming", "job": "exec"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_proc(cmd, cwd, env, timeout, log_path):
    """Runs cmd in its own process group with output to log_path; on
    timeout the whole group is killed. Returns (exit code, seconds)."""
    t0 = time.monotonic()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    return rc, time.monotonic() - t0


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine and harness with sbt; returns the runtime class path."""
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"engine sources not found next to {HERE}")
    os.makedirs(WORK, exist_ok=True)
    fp = source_fingerprint()
    cache = os.path.join(WORK, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("fingerprint") == fp:
            return c["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    rc, secs = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "-Dsbt.supershell=false",
                         "export Runtime/fullClasspath"],
                        HERE, env, BUILD_TIMEOUT_S, log)
    lines = [l.strip() for l in open(log, errors="replace")]
    cp = next((l for l in reversed(lines) if ".jar" in l and " " not in l), None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}):\n{tail(log)}")
    print(f"built engine and harness in {secs:.1f} s")
    with open(cache, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def fixture_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        try:
            with open(os.path.join(ROOT, "TESTDATA.md")) as f:
                m = re.search(r"\|\s*" + re.escape(SF) + r"\s*\|\s*`([^`]+)`", f.read())
            d = m and m.group(1)
        except OSError:
            d = None
    if not d or not os.path.exists(os.path.join(d, "lineitem.parquet")):
        fail(f"fixtures for sf{SF} not found (set SPARK_GRAFT_SF_DIR)")
    return d.rstrip("/")


def quantile(xs, q):
    """Linear-interpolated quantile (statistics.quantiles, inclusive)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def settled(passes):
    """The uncontended passes when there are at least two, else all."""
    clean = [p for p in passes if not p["contended"]]
    return clean if len(clean) >= 2 else passes


def self_times(spans, pass_id):
    """Seconds of the pass in which each layer's span is the innermost
    open one. The values add up to the pass's wall time."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    root = by_id[pass_id]
    lo, hi = root["start_ms"], root["end_ms"]
    members, stack = [], [(root, 0)]
    while stack:
        s, depth = stack.pop()
        a, b = max(s["start_ms"], lo), min(s["end_ms"], hi)
        if b > a:
            members.append((a, b, depth, SPAN_LAYER[s["kind"]]))
        stack += [(k, depth + 1) for k in kids.get(s["id"], [])]
    cuts = sorted({m[0] for m in members} | {m[1] for m in members})
    out = dict.fromkeys(SPAN_LAYER.values(), 0.0)
    for a, b in zip(cuts, cuts[1:]):
        live = [m for m in members if m[0] <= a and m[1] >= b]
        layer = max(live, key=lambda m: m[2])[3]
        out[layer] += (b - a) / 1000.0
    return out


def main():
    # Turn SIGTERM into SystemExit so run_proc's cleanup kills the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir")
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; known: {sorted(spec['workloads'])}")
    w = spec["workloads"][a.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp = build()
    sf_dir = a.sf_dir or fixture_dir()
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    for d in (out, tmp):
        os.makedirs(d, exist_ok=True)
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "graft.perfbench.Main",
            "--rows", ",".join(w["rows"]), "--stages", ",".join(w["stages"]),
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--min-passes", str(MIN_PASSES),
            "--warm-passes", str(w["warm_passes"]),
            "--trace", str(a.trace), "--sf-dir", sf_dir, "--out", out,
            "--cpus", str(len(os.sched_getaffinity(0))),
            "--run-id", os.path.basename(out)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    log = os.path.join(out, "jvm.log")
    rc, secs = run_proc(cmd, ROOT, env, JVM_TIMEOUT_S, log)
    if rc != 0:
        fail(f"run failed (exit {rc} after {secs:.0f} s):\n{tail(log)}")
    with open(os.path.join(out, "raw.json")) as f:
        raw = json.load(f)
    # Correctness, once per run, of the set-up pass's results.
    results = os.path.join(out, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    expected_path = os.path.join(HERE, "expected.json")
    if a.record_expected:
        record(results, w["rows"], oracle, expected_path)
    with open(expected_path) as f:
        expected = json.load(f)
    verdict = check(results, w["rows"], oracle, expected, sf_dir)
    for row, err in raw["verify_errors"].items():
        verdict[row] = f"set-up call failed: {err}"
    bad = {r: e for r, e in verdict.items() if e}

    untraced = settled([p for p in raw["passes"] if not p["traced"]])
    passes_untraced = {p["pass"] for p in untraced}
    calls = [c for c in raw["calls"]
             if c["pass"] in passes_untraced and not c["error"]]
    errored = [c for c in raw["calls"] if c["error"]]
    attempted = len(raw["calls"]) + len(w["rows"])
    failed = len(errored) + len(bad) + sum(
        1 for c in raw["calls"] if c["row"] in bad and not c["error"])
    for c in errored:
        print(f"FAILED CALL {c['row']} (pass {c['pass']}): {c['error']}")
    for r, e in sorted(bad.items()):
        print(f"WRONG RESULT {r}: {e}")

    call_s = [c["call_s"] for c in calls]
    pass_s = statistics.median(p["wall_s"] for p in untraced)
    e2e = {"setup_s": raw["setup_s"], "pass_s": pass_s,
           "call_p50_s": statistics.median(call_s)}
    # A percentile is reported only with at least ten samples beyond it.
    p90 = quantile(call_s, 0.9)
    beyond = sum(1 for x in call_s if x > p90)
    contended = any(p["contended"] for p in untraced)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(w['rows'])} rows, local[{raw['cpus']}], fixtures {sf_dir}")
    print("  pass walls " + " ".join(f"{p['wall_s']:.3f}" for p in raw["passes"]))
    print(f"  {len(raw['passes'])} passes in {raw['loop_s']:.1f} s, "
          f"{sum(p['contended'] for p in raw['passes'])} contended; medians "
          f"over {len(untraced)} untraced passes, {len(call_s)} calls")
    for k, v in e2e.items():
        print(f"  {k:<14} {v:10.4f} {units[k]}")
    print(f"  call_p90_s     {p90:10.4f} s" if beyond >= 10 else
          f"  call_p90_s     not reported: {beyond} calls beyond it, under 10")
    print(f"  fail_frac      {failed / attempted:10.4f} ({failed}/{attempted})")
    print(f"  pinned_mb      {raw['pinned_mb']:10.2f} MB")
    print(f"  set-up items   session {raw['session_s']:.2f} s, " +
          ", ".join(f"{k} {v:.2f} s" for k, v in raw["stages"].items()))
    print(f"  external CPU   {raw['external_cores']:.2f} cores over the loop"
          f"{'; CONTENDED run: medians include contended passes' if contended else ''}")

    metrics = e2e
    if a.trace:
        metrics = layer_metrics(raw, out, pass_s)
        layer_of = {m["metric"]: m["layer"] for m in spec["layer_map"]}
        selfs = {k[:-len(".self_s")]: v for k, v in metrics.items()
                 if k.endswith(".self_s")}
        print(f"  traced pass_s {metrics['trace.pass_s']:.4f} s, overhead on "
              f"pass_s {100 * metrics['trace.overhead_frac']:+.1f}%; "
              f"self times add up to {sum(selfs.values()):.4f} s")
        for layer in sorted(set(layer_of.values()) | set(selfs)):
            names = [k for k in metrics if layer_of.get(k) == layer]
            print(f"  layer {layer:<10} self {selfs.get(layer, 0.0):8.4f} s   " +
                  "  ".join(f"{k}={metrics[k]:.4g}" for k in names))
    names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names if n not in metrics]
    if missing:
        fail(f"metrics not produced: {missing}")
    print(json.dumps({
        "correct": not bad and not errored, "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names}}))
    keep = os.path.join(WORK, "last", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(os.path.dirname(keep), exist_ok=True)
    shutil.rmtree(results)
    shutil.move(out, keep)


def layer_metrics(raw, out, pass_s):
    """Per-layer metrics of the traced passes: medians over passes, plus
    self times from the span tree and run-level set-up figures."""
    traced = settled([p for p in raw["passes"] if p["traced"]])
    with open(os.path.join(out, "spans.jsonl")) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    pass_span = {s["name"]: s["id"] for s in spans if s["kind"] == "pass"}
    m = {k: statistics.median(p["layers"][k] for p in traced)
         for k in traced[0]["layers"]}
    selfs = [self_times(spans, pass_span[f"pass {p['pass']}"]) for p in traced]
    for layer in selfs[0]:
        m[f"{layer}.self_s"] = statistics.median(s[layer] for s in selfs)
    bt = raw["batch_trigger_s"]
    m["streaming.batch_p50_s"] = statistics.median(bt) if bt else 0.0
    m["streaming.batch_p90_s"] = quantile(bt, 0.9) if bt else 0.0
    m["memo.stage_build_s"] = sum(raw["stages"].values())
    m["memo.pinned_mb"] = raw["pinned_mb"]
    m["trace.pass_s"] = statistics.median(p["wall_s"] for p in traced)
    m["trace.overhead_frac"] = m["trace.pass_s"] / pass_s - 1
    return m


if __name__ == "__main__":
    main()
