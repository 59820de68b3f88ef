"""DuckDB oracle comparison for the query-mix results.

Each query's Spark result (parquet, written by the warm-up pass) must equal
the engine's own DuckDB oracle SQL run over the same input tables: same
columns by name, same multiset of rows, doubles compared at 9 significant
digits (the oracles round to 6 decimals on both sides).
"""
import json
import math
from pathlib import Path

TABLES = ["lineitem", "supplier", "documents"]


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _canon(cols, rows):
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def compare(input_dir, results_dir):
    """Check every Spark result in `results_dir` (<query>.<span>.json, one
    per executed query) against the query's oracle. Return {span id: None
    if it matches, else a one-line reason}."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet/*.parquet'")
    oracle = json.loads(Path(results_dir, "oracle_sql.json").read_text())
    expected = {}
    verdict = {}
    for f in sorted(Path(results_dir).glob("q_*.json")):
        name, span = f.name.split(".")[:2]
        if name not in expected:
            try:
                rel = con.sql(oracle[name])
                expected[name] = _canon(rel.columns, rel.fetchall())
            except Exception as e:  # an oracle that cannot run is a failed check
                expected[name] = f"oracle error: {str(e).splitlines()[0][:200]}"
        want = expected[name]
        got = json.loads(f.read_text())
        cols, rows = _canon(got["columns"], got["rows"])
        if isinstance(want, str):
            verdict[int(span)] = want
        elif cols != want[0]:
            verdict[int(span)] = f"columns {cols} != oracle {want[0]}"
        elif rows != want[1]:
            verdict[int(span)] = f"{len(rows)} rows differ from {len(want[1])} oracle rows"
        elif not rows:
            verdict[int(span)] = "empty result"
        else:
            verdict[int(span)] = None
    con.close()
    return verdict
