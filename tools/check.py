#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tooling only; the
engine itself is pure Scala/Spark). Runs DuckDB over the same parquet
tables for every oracleSql entry and compares against the parquet the
Verify main dumped: column names, dtypes-agnostic values, row content.

With --against, compares instead every query output of <outdir> with the
same query's output in another Verify dump (rows-only queries included),
under the same canonical order and exact cell compare, and prints
"same"/"differs" per query and a total.

Usage: python3 tools/check.py <sfdir> <outdir> [query ...]
       python3 tools/check.py <sfdir> <outdir> --against <other_outdir> [query ...]
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            na_position="first").reset_index(drop=True)
    return df


def norm_cell(v):
    if isinstance(v, float):
        return v  # exact compare — our whole design promises bit-equality
    return v


def mismatch(got: pd.DataFrame, want: pd.DataFrame, other: str):
    """None when the canonical frames are equal cell for cell, else the
    first difference."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c].tolist(), want[c].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            xn, yn = pd.isna(x), pd.isna(y)
            if xn and yn:
                continue
            if xn != yn or norm_cell(x) != norm_cell(y):
                return f"col {c} row {i}: spark={x!r} {other}={y!r}"
    return None


def against(outdir: str, other: str, only: set) -> int:
    """Compare every query output of two Verify dumps; exit status 1 when
    any query differs or exists on one side only."""
    con = duckdb.connect()

    def read(d: Path):
        return canon(con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf())

    names = sorted({p.name for d in (outdir, other) for p in Path(d).iterdir()
                    if p.is_dir() and (not only or p.name in only)})
    n_same = n_diff = 0
    for name in names:
        a, b = Path(outdir) / name, Path(other) / name
        try:
            bad = mismatch(read(a), read(b), "other")
        except Exception as e:
            bad = str(e).splitlines()[0]
        if bad:
            print(f"differs {name}: {bad}")
            n_diff += 1
        else:
            print(f"same    {name}")
            n_same += 1
    print(f"== {n_same} same, {n_diff} differ")
    return 1 if n_diff else 0


def main():
    args = sys.argv[1:]
    if "--against" in args:
        i = args.index("--against")
        other = args[i + 1]
        del args[i:i + 2]
        sys.exit(against(args[1], other, set(args[2:])))
    sfdir, outdir = args[0], args[1]
    only = set(args[2:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.loads((Path(outdir) / "oracle_sql.json").read_text())
    n_ok = n_bad = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        pdir = Path(outdir) / name
        if not pdir.exists():
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        try:
            got = canon(con.execute(
                f"SELECT * FROM '{pdir}/*.parquet'").fetchdf())
            want = canon(con.execute(oracle[name]).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_bad += 1
            continue
        bad = mismatch(got, want, "oracle")
        if bad:
            print(f"FAIL {name}: {bad}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(got)} rows)")
            n_ok += 1
    # rows-only queries (no oracle): report row counts
    for p in sorted(Path(outdir).iterdir()):
        if p.is_dir() and p.name not in oracle:
            n = con.execute(f"SELECT COUNT(*) FROM '{p}/*.parquet'").fetchone()[0]
            print(f"rows {p.name}: {n}")
    print(f"== {n_ok} ok, {n_bad} fail")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
