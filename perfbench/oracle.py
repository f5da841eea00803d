"""Checks query results against the program's own oracle SQL in DuckDB.

Uses the canonical compare of tools/validate.py (columns sorted by name,
rows sorted by every column, values compared as strings), so a result
passes here exactly when it would pass the repository's oracle check.
"""
import glob
import importlib.util
import os

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _validate_module():
    spec = importlib.util.spec_from_file_location(
        "graft_validate", os.path.join(ROOT, "tools", "validate.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check(data_dir, results_dir, names, oracles):
    """Returns {op name: why it failed} for every result that does not
    match its oracle (a missing oracle or result is a failure too)."""
    v = _validate_module()
    con = duckdb.connect()
    for t in v.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name in names:
        sql = oracles.get(name)
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not sql:
            bad[name] = "no oracle SQL"
            continue
        if not files:
            bad[name] = "no result written"
            continue
        try:
            a = v.canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            b = v.canon(con.sql(sql).df())
        except Exception as e:  # noqa: BLE001 - any failure to compare is a failed check
            bad[name] = f"compare failed: {e}"
            continue
        if list(a.columns) != list(b.columns):
            bad[name] = f"columns {list(a.columns)} vs {list(b.columns)}"
        elif len(a) != len(b):
            bad[name] = f"rows {len(a)} vs {len(b)}"
        else:
            for c in a.columns:
                if not a[c].astype(str).equals(b[c].astype(str)):
                    bad[name] = f"column {c} differs"
                    break
    return bad
