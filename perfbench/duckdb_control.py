#!/usr/bin/env python3
"""Same-host DuckDB control for `analytic_full` (informational, not gated).

Usage: python3 perfbench/duckdb_control.py RESULT_FILE_OR_DIR...

For each `analytic_full` result file, runs every row's oracle SQL in
DuckDB over the same seeded fixture files, fully fetched (`fetchall`),
one untimed warm-up then the median of five timed runs, and prints per-row
and per-family geometric-mean ratios of the engine's per-row median
time to DuckDB's, next to the ratio of the totals. Rows without an
oracle have no control and are listed as such.
"""
import glob
import json
import math
import os
import statistics
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from gen_data import ALL_TABLES, generate  # noqa: E402

REPEATS = 5


def family(name: str) -> str:
    if name.startswith("q"):
        return "tpch"
    if name.startswith(("ext_asof", "ext_interval")):
        return "plans"
    return name.split("_")[1]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def control(res: dict) -> None:
    seed = res["env"]["seed"]
    data = os.path.join(ROOT, res["env"]["fixture_dir"])
    if not all(os.path.exists(os.path.join(data, f"{t}.parquet"))
               for t in ALL_TABLES):
        generate(seed, data)
    con = duckdb.connect()
    con.execute(f"SET threads TO {res['env'].get('nproc', 4)}")
    con.execute("SET temp_directory = '"
                + os.path.join(ROOT, ".bench_build", "duckdb_tmp") + "'")
    for t in ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t + '.parquet')}'")
    spark = {}
    for s in res["samples"]:
        spark.setdefault(s[0], []).append(s[3] / 1e3)
    rows = []
    for name, sql in sorted(res["oracles"].items()):
        if sql is None or name not in spark:
            print(f"  {name:<28} no oracle SQL: no control")
            continue
        con.execute(sql).fetchall()
        ts = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            ts.append(time.perf_counter() - t0)
        rows.append((name, statistics.median(spark[name]),
                     statistics.median(ts)))
    con.close()
    print(f"seed {seed}: {'row':<28} {'engine_s':>9} {'duckdb_s':>9} "
          f"{'ratio':>7}")
    for name, g, d in rows:
        print(f"  {name:<34} {g:9.3f} {d:9.3f} {g / d:7.2f}")
    fams = {}
    for name, g, d in rows:
        fams.setdefault(family(name), []).append(g / d)
    for f, rs in sorted(fams.items()):
        print(f"  family {f:<12} rows={len(rs):<3} "
              f"geomean ratio {geomean(rs):7.2f}")
    print(f"  all rows: geomean ratio "
          f"{geomean([g / d for _, g, d in rows]):.2f}, total ratio "
          f"{sum(g for _, g, _ in rows) / sum(d for _, _, d in rows):.2f}")


def main(argv):
    files = []
    for p in argv:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) \
            if os.path.isdir(p) else [p]
    for f in files:
        with open(f) as fh:
            res = json.load(fh)
        if res["env"]["workload"] == "analytic_full" and res.get("oracles"):
            control(res)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
