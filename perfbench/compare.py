#!/usr/bin/env python3
"""Collects and compares sets of benchmark runs.

    python3 perfbench/compare.py collect SET_DIR [--seeds 1-10]
    python3 perfbench/compare.py diff SET_A SET_B

`collect` runs run.py untraced, for BENCHMARK.json's run length, once per
(workload, seed) and keeps each run's standard output as
SET_DIR/<workload>/<seed>.out. `diff` reads two such
sets and prints, for each (workload, end-to-end metric), the median and
quartiles of each set, the spread (interquartile range over median) and
the change of B's median against A's. A pair is within bounds when the
spread of each set and the change in the worse direction both stay
within the metric's bound in BENCHMARK.json.
Exits 1 when any pair is out of bounds or a run failed its check.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def collect(a):
    b = bench()
    for w in [x["name"] for x in b["workloads"]]:
        os.makedirs(os.path.join(a.set_dir, w), exist_ok=True)
        for s in seeds(a.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", str(b["run_seconds"]),
                   "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            with open(os.path.join(a.set_dir, w, f"{s}.out"), "w") as f:
                f.write(p.stdout + p.stderr)
            last = p.stdout.strip().splitlines()[-1:] or [""]
            print(f"{w} seed {s}: exit {p.returncode} {last[0][:160]}", flush=True)


def load(set_dir):
    """{workload: [result dict of each run]}"""
    runs = {}
    for path in sorted(glob.glob(os.path.join(set_dir, "*", "*.out"))):
        lines = [l for l in open(path).read().splitlines() if l.startswith("{")]
        if lines:
            runs.setdefault(os.path.basename(os.path.dirname(path)), []).append(
                json.loads(lines[-1]))
    return runs


def stats(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def diff(a):
    b = bench()
    sa, sb = load(a.set_a), load(a.set_b)
    ok = True
    print(f"{'workload':<16} {'metric':<11} {'set':<3} {'n':>2} {'q1':>9} "
          f"{'median':>9} {'q3':>9} {'spread':>7}  bound")
    for w in [x["name"] for x in b["workloads"]]:
        ra, rb = sa.get(w, []), sb.get(w, [])
        bad = sum(1 for r in ra + rb if not r["correct"] or r["failed"])
        if not ra or not rb or bad:
            print(f"{w:<16} runs A={len(ra)} B={len(rb)}, {bad} with failed calls")
            ok = False
            if not ra or not rb:
                continue
        for m in b["end_to_end"]:
            n, bound = m["name"], m["bound"]
            rows = []
            for tag, rs in (("A", ra), ("B", rb)):
                xs = [r["metrics"][n]["value"] for r in rs]
                q1, q2, q3, sp = stats(xs)
                rows.append((tag, len(xs), q1, q2, q3, sp))
            change = rows[1][3] / rows[0][3] - 1
            worse = change if m["better"] == "lower" else -change
            spread_ok = all(r[5] <= bound for r in rows)
            within = spread_ok and worse <= bound
            ok &= within
            for tag, k, q1, q2, q3, sp in rows:
                print(f"{w:<16} {n:<11} {tag:<3} {k:>2} {q1:9.4f} {q2:9.4f} "
                      f"{q3:9.4f} {sp:7.3f}  {bound:.2f}")
            print(f"{'':<16} {n:<11} B vs A median {change:+.3f}: "
                  f"{'within bound' if within else 'OUT OF BOUND'}")
    print("all pairs within bounds" if ok else "some pairs out of bounds")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("set_dir")
    c.add_argument("--seeds", default="1-10")
    d = sub.add_parser("diff")
    d.add_argument("set_a")
    d.add_argument("set_b")
    a = ap.parse_args()
    if a.cmd == "collect":
        collect(a)
    else:
        sys.exit(diff(a))


if __name__ == "__main__":
    main()
