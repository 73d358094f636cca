"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare row count,
schema width, and order-insensitive values.

Usage: python tools/check_gate.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import duckdb

import __spark_entry__ as entry_mod
from search_engine_trec_fair_ranking_19_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    return sorted(out), [cols[i] for i in order]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # the Python workers import the package too, from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (_REPO, os.environ.get("PYTHONPATH")))
    )
    spark = get_spark(app_name="gate-check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            srows = df.collect()
            scols = df.columns
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.sql(oracles[name])
            drows = res.fetchall()
            dcols = [d[0] for d in res.description]
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            failures += 1
            continue
        sc, scn = canon(srows, scols)
        dc, dcn = canon(drows, dcols)
        if scn != dcn:
            print(f"FAIL {name}: columns {scn} vs {dcn}")
            failures += 1
        elif len(sc) != len(dc):
            print(f"FAIL {name}: rowcount {len(sc)} vs {len(dc)}")
            failures += 1
        elif sc != dc:
            diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
            print(f"FAIL {name}: values differ, first diffs {diff}")
            failures += 1
        else:
            print(f"ok   {name}: {len(sc)} rows match")
    print("entry():", entry_mod.entry(spark).count(), "rows")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
