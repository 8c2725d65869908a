#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB over the same sfDir tables,
and compares: column names (sorted), row count, and values (rows sorted by all
columns, floats rounded to 6dp before hashing). Queries that share one oracle
SQL text run it once; every query's Spark output is still compared. Dev-only
tool — the real gate is driver-side.
"""
import json, math, sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


STRICT = bool(int(__import__("os").environ.get("CHECK_STRICT", "0")))


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # strict mode: exact bit comparison (worst-case driver behavior);
        # default: 6dp rounding
        return repr(v) if STRICT else f"{v:.6f}"
    return str(v)


def table_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon(r[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_pass = n_fail = 0
    expected = {}  # oracle SQL text -> canonical (cols, rows)
    for name in sorted(oracle):
        rd = Path(out_dir) / name
        if not rd.exists():
            print(f"FAIL {name}: no spark output dir")
            n_fail += 1
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM read_parquet('{rd}/*.parquet')")
            got_cols, got_rows = table_canon(got_rel.columns, got_rel.fetchall())
            sql = oracle[name]
            if sql not in expected:
                exp_rel = con.sql(sql)
                expected[sql] = table_canon(exp_rel.columns, exp_rel.fetchall())
            exp_cols, exp_rows = expected[sql]
        except Exception as e:
            print(f"FAIL {name}: exception {e}")
            n_fail += 1
            continue
        if got_cols != exp_cols:
            print(f"FAIL {name}: columns {got_cols} != {exp_cols}")
            n_fail += 1
        elif len(got_rows) != len(exp_rows):
            print(f"FAIL {name}: rowcount {len(got_rows)} != {len(exp_rows)}")
            n_fail += 1
        elif got_rows != exp_rows:
            bad = next(i for i, (a, b) in enumerate(zip(got_rows, exp_rows)) if a != b)
            print(f"FAIL {name}: first diff at sorted row {bad}:\n  spark={got_rows[bad]}\n  duck ={exp_rows[bad]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got_rows)} rows)")
            n_pass += 1
    extra = [q for q in (set(p.name for p in Path(out_dir).iterdir() if p.is_dir())) if q not in oracle]
    if extra:
        print(f"note: spark outputs without oracle (rows-only check): {sorted(extra)}")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
