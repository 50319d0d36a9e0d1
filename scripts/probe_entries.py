"""Single-entry oracle parity probe, driver-style.

Usage: python scripts/probe_entries.py name1,name2[,...] [sf0.001 sf0.01]

For each named registry entry, builds the query with a VANILLA SparkSession
(no engine confs — the grading driver's seam) at each scale factor and
checks it against the DuckDB oracle with ``window_sim.compare`` (rows,
schema and canonicalized values). Exits non-zero on any mismatch.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# window_sim puts the repo root on sys.path
from window_sim import compare, oracle_connection  # noqa: E402

from sql_query_engine_rs_spark.queries import QUERIES  # noqa: E402


def main() -> int:
    names = [n.strip() for n in sys.argv[1].split(",") if n.strip()]
    sfs = sys.argv[2:] or ["sf0.001", "sf0.01"]

    from pyspark.sql import SparkSession

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown entries: {unknown}")
        return 2

    spark = (
        SparkSession.builder.master("local[8]").appName("probe").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    bad = []
    for sf in sfs:
        sf_dir = f"/root/testdata/{sf}"
        con = oracle_connection(sf_dir)
        for name in names:
            why = compare(spark, con, name, sf_dir)
            print(f"{sf} {name}: {'OK' if why is None else 'MISMATCH'}")
            if why is not None:
                print(f"  {why}")
                bad.append((sf, name))
        con.close()
    spark.stop()
    print("DONE bad:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
