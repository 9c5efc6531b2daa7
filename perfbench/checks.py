"""Output checks, run after the benchmark JVM exits, outside the timed window.

Query ops are compared with their DuckDB oracles through the repository's
own compare (tools/compare_oracle.py), so the benchmark and the gate share
one definition of "equal". Pipeline ops are compared with the truth their
generator recorded.
"""
import contextlib
import io
import json
import os
import sys

import duckdb


def check_queries(root, tables_dir, check_dir, oracle, names):
    """{name: reason} for every query whose output differs from its
    oracle, lacks an oracle, or is missing."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import compare_oracle
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        compare_oracle.main(tables_dir, check_dir, set(names))
    failures, passed = {}, set()
    for line in out.getvalue().splitlines():
        if line.startswith("PASS "):
            passed.add(line.split()[1])
        elif line.startswith("FAIL "):
            name, _, reason = line[5:].partition(": ")
            failures[name] = reason
    for n in names:
        if n not in passed and n not in failures:
            failures[n] = "no oracle"
    return failures


def _read_csv(con, directory):
    return con.execute(
        "SELECT * FROM read_csv(?, header = true, all_varchar = true)",
        [os.path.join(directory, "*.csv")]).fetchall(), [
        d[0] for d in con.description]


def check_alma(op, truth):
    """The first disagreement between a pipeline op's outputs and its
    file's truth, or None."""
    con = duckdb.connect()
    got = {}
    for route in ("success", "error"):
        rows, cols = _read_csv(con, op["outputs"][route])
        for r in rows:
            rec = {c: (v or "") for c, v in zip(cols, r)}
            key = (rec["MMS ID"], rec["Description"])
            if key in got:
                return f"item {key} written twice"
            got[key] = (route, rec)
    if len(got) != len(truth):
        return f"success + error = {len(got)} rows, input = {len(truth)}"
    successes = 0
    for t in truth:
        key = (t["mms"], t["description"])
        if key not in got:
            return f"item {key} missing"
        route, rec = got[key]
        successes += route == "success"
        if route != t["route"]:
            return f"item {key} routed to {route}, expected {t['route']}"
        if rec["Pattern"] != t["pattern"]:
            return f"item {key} pattern {rec['Pattern']!r}, expected {t['pattern']!r}"
        if t["pattern"] == "N/A":
            continue
        for col, want in (("Enum A", t["enum_a"]), ("Enum B", t["enum_b"])):
            if rec[col] != want:
                return f"item {key} {col} {rec[col]!r}, expected {want!r}"
        # a split range keeps its second year only when both neighbours
        # pin the century; the pinned year itself always leads
        ok = (rec["Chron I"].startswith(t["chron_i"])
              if t["grammar"] == "split" else rec["Chron I"] == t["chron_i"])
        if not ok:
            return f"item {key} Chron I {rec['Chron I']!r}, expected {t['chron_i']!r}"
    for counter in ("store.fetches", "store.puts"):
        if op["counts"].get(counter) != successes:
            return f"{counter} = {op['counts'].get(counter)}, success rows = {successes}"
    return None
