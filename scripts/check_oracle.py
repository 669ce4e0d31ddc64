#!/usr/bin/env python3
"""Local replay of the driver's t2 correctness gate (test tooling only).

Usage: python3 scripts/check_oracle.py <verify_out_dir> <sf_dir>

Reads each <verify_out_dir>/<name>/ parquet dump (written by graft.Verify),
runs the matching SQL from oracle_sql.json in DuckDB over the sf_dir tables,
then compares the way the driver does: the Spark side goes through
pyarrow.parquet -> pandas, the oracle side through duckdb .df() -> pandas,
columns sorted by name, rows sorted, and every cell compared
REPRESENTATION-sensitively ((type, str) pairs, not Python == equality).

This is deliberately stricter than value equality: a Spark DECIMAL(38,6)
column arrives as Decimal('6743588.960000') objects while DuckDB's .df()
yields float64 6743588.96 — equal values, different representations,
different driver hashes. Round 1 shipped 10 such false-greens because the
old gate compared values; this gate reproduces the driver's verdict.
"""
import json, math, sys
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def cell(v):
    """Representation-sensitive canonical form of one pandas cell."""
    if v is None or v is pd.NaT:
        return ("null", "")
    if isinstance(v, float) and math.isnan(v):
        return ("float", "NaN")
    t = type(v).__name__
    # numpy scalars stringify like python scalars; keep the dtype family in
    # the key so int32 vs int64 or Decimal vs float64 can never collide.
    if t in ("float", "float32", "float64"):
        return ("float:" + t, repr(float(v)))
    if t in ("int", "int8", "int16", "int32", "int64", "uint32", "uint64"):
        return ("int:" + t, str(int(v)))
    return (t, str(v))


def canon(df):
    """Column-name-sorted, row-sorted canonical form of a pandas frame."""
    cols = sorted(df.columns)
    rows = []
    for r in df[cols].itertuples(index=False, name=None):
        rows.append(tuple(cell(v) for v in r))
    return sorted(rows), cols


def main():
    out_dir, sf_dir = Path(sys.argv[1]), sys.argv[2]
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    n_match = n_mismatch = n_noracle = 0
    for qdir in sorted(p for p in out_dir.iterdir() if p.is_dir()):
        name = qdir.name
        got_df = pq.read_table(qdir).to_pandas()
        if name not in oracle:
            n_noracle += 1
            print(f"  [rows-only] {name}: {len(got_df)} rows")
            continue
        try:
            want_df = con.sql(oracle[name]).df()
        except Exception as e:
            n_mismatch += 1
            print(f"✗ {name}: oracle SQL failed: {e}")
            continue
        g, gc = canon(got_df)
        w, wc = canon(want_df)
        if gc != wc:
            n_mismatch += 1
            print(f"✗ {name}: column mismatch spark={gc} duckdb={wc}")
            continue
        if g == w:
            n_match += 1
            print(f"✓ {name}: MATCH ({len(g)} rows)")
            continue
        n_mismatch += 1
        print(f"✗ {name}: REPR MISMATCH (spark {len(g)} rows, duckdb {len(w)} rows, cols {gc})")
        shown = 0
        for i in range(max(len(g), len(w))):
            a = g[i] if i < len(g) else None
            b = w[i] if i < len(w) else None
            if a != b:
                print(f"    spark : {a}")
                print(f"    duckdb: {b}")
                shown += 1
                if shown >= 3:
                    break
    dumped = {p.name for p in out_dir.iterdir() if p.is_dir()}
    for name in sorted(set(oracle) - dumped):
        n_mismatch += 1
        print(f"✗ {name}: no dump (the query failed in Verify)")
    print(f"\n{n_match} match, {n_mismatch} mismatch, {n_noracle} rows-only")
    sys.exit(1 if n_mismatch else 0)


if __name__ == "__main__":
    main()
