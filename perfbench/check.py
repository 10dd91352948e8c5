"""Correctness check of one benchmark run's row results.

The run writes each row's result to RESULTS/<row>/*.parquet and the
oracle SQL of its rows to RESULTS/oracle_sql.json, the layout that
tools/preflight.py reads. Rows with an oracle (`SparkEntry.oracleSql`)
are checked by running tools/preflight.py unchanged, against DuckDB over
the same fixture tables. Rows without one are compared against the row
count and value hash recorded in expected.json; every catalog row ends
in a total sort, so the hash is order-sensitive.
"""
import glob
import hashlib
import json
import os
import re
import subprocess
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREFLIGHT = os.path.join(ROOT, "tools", "preflight.py")
PREFLIGHT_TIMEOUT_S = 120


def load(results_dir, row):
    files = sorted(glob.glob(os.path.join(results_dir, row, "*.parquet")))
    if not files:
        return None
    with duckdb.connect() as con:
        return con.execute("SELECT * FROM read_parquet(?)", [files]).fetch_arrow_table()


def digest(tbl):
    """Row count and an order-sensitive hash of names, types and values."""
    cols = sorted(tbl.column_names)
    h = hashlib.sha256()
    h.update(repr([(c, str(tbl.schema.field(c).type)) for c in cols]).encode())
    for r in tbl.select(cols).to_pylist():
        h.update(repr([r[c] for c in cols]).encode())
    return {"rows": tbl.num_rows, "sha256": h.hexdigest()}


def preflight(results_dir, sf_dir, rows):
    """{row: None when tools/preflight.py passes it, else the reason}."""
    try:
        p = subprocess.run([sys.executable, PREFLIGHT, sf_dir, results_dir],
                           capture_output=True, text=True,
                           timeout=PREFLIGHT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {r: "preflight timed out" for r in rows}
    tail = (p.stderr.strip().splitlines() or [f"exit {p.returncode}"])[-1]
    verdict = {r: f"not passed by preflight ({tail})" for r in rows}
    for m in re.finditer(r"^OK   (\S+) ", p.stdout, re.M):
        verdict[m.group(1)] = None
    # A FAIL line may continue on indented lines (the first differing row).
    for m in re.finditer(r"^FAIL (\S+?): (.*(?:\n  .*)*)", p.stdout, re.M):
        verdict[m.group(1)] = " ".join(m.group(2).split())
    return verdict


def check(results_dir, rows, oracle, expected, sf_dir):
    """Returns {row: None when correct, else the reason}."""
    verdict = preflight(results_dir, sf_dir, [r for r in rows if r in oracle])
    for row in rows:
        if row in oracle:
            continue
        got = load(results_dir, row)
        if got is None:
            verdict[row] = "no result written"
        elif row not in expected:
            verdict[row] = "no oracle and no recorded count/hash"
        else:
            d = digest(got)
            verdict[row] = None if d == expected[row] else (
                f"count/hash {d['rows']}/{d['sha256'][:12]} != recorded "
                f"{expected[row]['rows']}/{expected[row]['sha256'][:12]}")
    return verdict


def record(results_dir, rows, oracle, expected_path):
    """Stores count and hash of every row without an oracle."""
    exp = {}
    if os.path.exists(expected_path):
        with open(expected_path) as f:
            exp = json.load(f)
    for row in rows:
        if row not in oracle:
            got = load(results_dir, row)
            if got is not None:
                exp[row] = digest(got)
    with open(expected_path, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")
