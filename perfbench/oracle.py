"""Correctness check of registry rows against their DuckDB oracle SQL.

Each row's full output (parquet, written in the untimed warm-up) is
compared with the row's oracle SQL run by DuckDB over the same fixture
files, normalised by `tools/compare_oracle.py`: columns sorted by name,
values compared exactly, rows compared in order first and after a stable
sort second (the registry's own gate accepts both). Rows without an
oracle get a non-empty row-count check.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from compare_oracle import norm  # noqa: E402
from gen_data import ALL_TABLES  # noqa: E402


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """`compare_oracle.norm`, after turning list values (array columns)
    into strings, which it compares as objects."""
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(list(v)) if hasattr(v, "__len__")
                              and not isinstance(v, (str, bytes)) else v)
    return norm(df)


def _read(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_rows(data_dir: str, outputs: dict, spill_dir: str) -> list:
    """outputs: name -> {"path": dir, "oracle": sql or None}; DuckDB
    spills (if ever) under spill_dir. Returns [(name, ok, detail)]."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    for t in ALL_TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    results = []
    for name, o in outputs.items():
        try:
            got = _read(o["path"])
        except Exception as e:  # missing or unreadable output
            results.append((name, False, f"no output: {e}"))
            continue
        if o.get("oracle") is None:
            results.append((name, len(got) > 0, f"rows={len(got)}"))
            continue
        try:
            exp = con.execute(o["oracle"]).fetchdf()
        except Exception as e:
            results.append((name, False, f"oracle SQL error: {e}"))
            continue
        g, e = _norm(got), _norm(exp)
        if list(g.columns) != list(e.columns):
            results.append((name, False, f"columns {list(g.columns)} vs "
                                         f"{list(e.columns)}"))
            continue
        if g.shape == e.shape and g.equals(e):
            results.append((name, True, f"rows={len(g)} exact"))
            continue
        cols = list(g.columns)
        gs = g.sort_values(cols, kind="mergesort", na_position="first") \
            .reset_index(drop=True)
        es = e.sort_values(cols, kind="mergesort", na_position="first") \
            .reset_index(drop=True)
        ok = gs.shape == es.shape and gs.equals(es)
        results.append((name, ok, f"rows={len(g)} vs {len(e)}"
                        + (" exact after sort" if ok else " MISMATCH")))
    con.close()
    return results
