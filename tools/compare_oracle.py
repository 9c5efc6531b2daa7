#!/usr/bin/env python3
"""Dev-only harness (not part of the library): mimic the driver's DuckDB
oracle compare. Usage: compare_oracle.py <sfDir> <verifyOutDir> [name...]
Extra names restrict the compare to those queries (dev iteration).
Exit status: 0 when every compared query passes, 1 on a failure or when
nothing was compared, 2 on a name with no oracle."""
import json
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main(sf_dir, out_dir, only=()):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {str(e)[:200]}")
            n_fail += 1
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}")
            n_fail += 1
            continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
            n_fail += 1
            continue
        # driver hashes values after sorting columns by name; emulate an
        # order-sensitive exact compare (queries all end in ORDER BY)
        mismatch = None
        for c in exp.columns:
            ev, gv = exp[c].tolist(), got[c].tolist()
            if str(exp[c].dtype) != str(got[c].dtype):
                mismatch = f"dtype {c}: exp={exp[c].dtype} got={got[c].dtype}"
                break
            for i, (a, b) in enumerate(zip(ev, gv)):
                ok = (a == b) or (a != a and b != b)  # NaN==NaN
                if not ok:
                    mismatch = f"col {c} row {i}: exp={a!r} got={b!r}"
                    break
            if mismatch:
                break
        if mismatch:
            print(f"FAIL {name}: {mismatch}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(exp)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    unknown = sorted(set(only) - oracle.keys())
    if unknown:
        print(f"no oracle for: {' '.join(unknown)}")
        return 2
    return 1 if n_fail or not n_pass else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
