"""Output checks: every op's output must be the same after the warm-up and
after the timed passes, must match DuckDB running the op's oracle SQL where
the catalog has one, and for the default seed must match the committed
expectations (`expected.json`). Battery cells are checked against the
generator's facts instead.

Outputs are compared as order-insensitive row sets with columns sorted by
name. Against DuckDB, floating-point cells compare with a relative
tolerance of 1e-6. Across passes and against the committed expectations,
the JVM's fingerprint is compared: row count plus an order-insensitive
content hash with top-level floating-point cells rounded to 6 significant
digits (see `Fingerprint` in harness/Workloads.scala).
"""
import datetime as dt
import decimal
import json
import math
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

REL_TOL = 1e-6
HASH_DIGITS = 6


def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple((k, _cell(x)) for k, x in sorted(v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    return str(v)


def _rounded(c):
    if isinstance(c, float):
        return float(f"{c:.{HASH_DIGITS}g}")
    if isinstance(c, tuple):
        return tuple(_rounded(x) for x in c)
    return c


def canon(df: pd.DataFrame):
    """(sorted column names, rows sorted by their rounded form)."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: json.dumps(_rounded(r), default=str))
    return cols, rows


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def same(x, y) -> str:
    """'' when two canonical outputs agree, else a one-line reason."""
    (cx, rx), (cy, ry) = x, y
    if cx != cy:
        return f"columns {cx} != {cy}"
    if len(rx) != len(ry):
        return f"{len(rx)} rows != {len(ry)} rows"
    for a, b in zip(rx, ry):
        if not _close(a, b):
            return f"row {a!r} != {b!r}"[:300]
    return ""


def duckdb_outputs(fixture: Path, sql: dict) -> dict:
    """Run each op's oracle SQL over the fixture tables in DuckDB."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(fixture.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return {name: canon(con.sql(q).df()) for name, q in sql.items()}


def check_outputs(result: dict, fixture: Path, manifest: dict,
                  expected: dict | None) -> tuple[list, dict]:
    """Returns (failures, record). A failure is {op, check, reason}; the
    record holds each op's rows, hash and the expectation's source."""
    failures, record = [], {}
    checks = result["checks"]
    oracle = {}
    if result["oracle_sql"]:
        try:
            oracle = duckdb_outputs(fixture, result["oracle_sql"])
        except ImportError:
            print("warning: duckdb is not importable; oracle checks skipped")
    cells = {c["cell"]: c for c in manifest.get("cells", [])}
    for op, final in checks["final"].items():
        warm = checks["warmup"].get(op, {})
        if "error" in final or "error" in warm:
            continue  # already counted as a failed op by the JVM
        if "hash" in final:
            rows, digest = final["rows"], final["hash"]
            rec = {"rows": rows, "hash": digest,
                   "source": "duckdb" if op in oracle else "engine"}
            record[op] = rec
            if (warm["rows"], warm["hash"]) != (rows, digest):
                failures.append({"op": op, "check": "passes agree",
                                 "reason": f"warm-up {warm} != final {final}"})
            if op in oracle and "dump" in final:
                got = canon(pq.read_table(final["dump"]).to_pandas())
                why = same(got, oracle[op])
                if why:
                    failures.append({"op": op, "check": "duckdb", "reason": why})
            if expected is not None:
                want = expected.get(op)
                if want is None or (want["rows"], want["hash"]) != (rows, digest):
                    failures.append({"op": op, "check": "expected",
                                     "reason": f"got {rec}, committed {want}"})
            if rows == 0 and op not in oracle:
                failures.append({"op": op, "check": "non-empty", "reason": "0 rows"})
        elif op.startswith("cell_"):
            facts = cells[op[len("cell_"):]]
            record[op] = {"feature_rows": final.get("feature_rows"),
                          "fade_slope": final.get("fade_slope"), "source": "generator"}
            if final != warm:
                failures.append({"op": op, "check": "passes agree",
                                 "reason": f"{warm} != {final}"})
            if final.get("feature_rows") != facts["cycles"]:
                failures.append({"op": op, "check": "feature rows = cycles",
                                 "reason": f"{final.get('feature_rows')} != {facts['cycles']}"})
            slope = final.get("fade_slope")
            if slope is None or abs(slope - facts["fade_pct_per_cycle"]) > 1e-3:
                failures.append({"op": op, "check": "fade slope",
                                 "reason": f"{slope} vs generated {facts['fade_pct_per_cycle']}"})
        else:  # the fleet collation
            record[op] = dict(final, source="generator")
            want = {"cells": len(cells), "rows": sum(c["cycles"] for c in cells.values())}
            if final != warm or any(final.get(k) != v for k, v in want.items()):
                failures.append({"op": op, "check": "fleet facts",
                                 "reason": f"{final} vs generated {want}"})
    return failures, record
