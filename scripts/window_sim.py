"""Replay the driver's correctness gate over a window of the registry.

Usage:
  python scripts/window_sim.py              # first-50 window (the driver's)
  python scripts/window_sim.py 50 100       # a slice of the registry order
  python scripts/window_sim.py names.txt    # one entry name per line

Vanilla SparkSession, sf0.01 (the driver's correctness scale). Each entry is
checked against its DuckDB oracle by ``compare``: equal row counts, equal
column names in any order, and equal rows after ``canonical`` (columns
sorted by name, floats rounded to 9 places, NaN and bools normalized).
Pass condition: ``DONE bad: []``.
"""
from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sql_query_engine_rs_spark.catalog import TESTDATA_TABLES  # noqa: E402
from sql_query_engine_rs_spark.queries import QUERIES  # noqa: E402


def normalize(value):
    if value is None:
        return None
    if isinstance(value, bool):
        return float(value)
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else round(value, 9)
    if isinstance(value, int):
        return value
    return str(value)


def canonical(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(normalize(row[i]) for i in order) for row in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per testdata table under sf_dir."""
    import duckdb

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(spark, con, name: str, sf_dir: str) -> str | None:
    """None when entry ``name`` matches its oracle; otherwise why not."""
    spec = QUERIES[name]
    try:
        sdf = spec.build(spark, sf_dir)
        scols = [c.lower() for c in sdf.columns]
        srows = sdf.collect()
        res = con.execute(spec.oracle)
        dcols = [d[0].lower() for d in res.description]
        drows = res.fetchall()
    except Exception as e:  # noqa: BLE001 — report, don't crash the sweep
        return f"{type(e).__name__}: {e}"[:300]
    if len(srows) != len(drows):
        return f"{len(srows)} rows, oracle {len(drows)}"
    if sorted(scols) != sorted(dcols):
        return f"columns {scols}, oracle {dcols}"
    s, d = canonical(srows, scols), canonical(drows, dcols)
    diff = next(((a, b) for a, b in zip(s, d) if a != b), None)
    return None if diff is None else f"first diff {diff!r}"[:300]


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as m

    order = list(m.queries())
    if len(sys.argv) == 2 and os.path.exists(sys.argv[1]):
        with open(sys.argv[1]) as f:
            names = [ln.strip() for ln in f if ln.strip()]
    elif len(sys.argv) == 3:
        names = order[int(sys.argv[1]) : int(sys.argv[2])]
    else:
        names = order[:50]

    sf_dir = "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]").appName("window-sim").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(sf_dir)
    bad = []
    for i, name in enumerate(names):
        why = compare(spark, con, name, sf_dir)
        print(f"[{i + 1}/{len(names)}] {name}: {'ok' if why is None else 'BAD'}")
        if why is not None:
            print(f"  {why}")
            bad.append(name)
    spark.stop()
    print("DONE bad:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
