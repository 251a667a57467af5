#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Reads the parquet dumps written by `graft.Verify <sfDir> <outDir>` plus
`<outDir>/oracle_sql.json`, runs each oracle SQL in DuckDB over the same
fixture tables, and compares (column names, dtypes, row count, sorted
values). Exit code 1 if any query mismatches or the oracle set is empty.

Usage: tools/check_oracle.py [sfDir] [outDir]
"""
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf or abs(af - bf) <= 1e-12 * max(1.0, abs(af), abs(bf))
    return a == b


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    if not oracles:
        # an empty set checks nothing: a run that dumped no face must not pass
        print(f"FAIL: {out_dir}/oracle_sql.json holds no oracle queries")
        return 1

    failures = []
    for name, sql in sorted(oracles.items()):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            failures.append((name, f"spark output missing: {e}"))
            print(f"FAIL {name}: no spark output ({e})")
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            failures.append((name, f"oracle sql error: {e}"))
            print(f"FAIL {name}: oracle SQL error: {e}")
            continue
        got_c, exp_c = canon(got), canon(exp)
        if list(got_c.columns) != list(exp_c.columns):
            failures.append((name, "columns"))
            print(f"FAIL {name}: columns spark={list(got_c.columns)} oracle={list(exp_c.columns)}")
            continue
        if len(got_c) != len(exp_c):
            failures.append((name, "rowcount"))
            print(f"FAIL {name}: rows spark={len(got_c)} oracle={len(exp_c)}")
            continue
        # dtype compare (loose: int64 vs int32 flagged, since driver may be strict)
        dt_notes = []
        for c in got_c.columns:
            gd, ed = str(got_c[c].dtype), str(exp_c[c].dtype)
            if gd != ed:
                dt_notes.append(f"{c}: spark={gd} oracle={ed}")
        bad = None
        for c in got_c.columns:
            gv, ev = got_c[c].tolist(), exp_c[c].tolist()
            for i, (x, y) in enumerate(zip(gv, ev)):
                if not values_equal(x, y):
                    bad = (c, i, x, y)
                    break
            if bad:
                break
        if bad:
            failures.append((name, f"value {bad}"))
            print(f"FAIL {name}: first diff col={bad[0]} row={bad[1]} spark={bad[2]!r} oracle={bad[3]!r}")
        else:
            note = f"  [dtype notes: {'; '.join(dt_notes)}]" if dt_notes else ""
            print(f"OK   {name}: {len(got_c)} rows{note}")

    print(f"\n{len(oracles) - len(failures)}/{len(oracles)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
