#!/usr/bin/env python3
"""Recompute ``oracle_counts.json``: each registry query's row count from
its DuckDB oracle over the benchmark's tables in ``data/sf0.001``.

    python3 perfbench/oracle_counts.py      # from the repository root

The benchmark reads the stored counts; rerun this only when the tables or
the oracles change.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.001")


def main() -> int:
    sys.path.insert(0, os.getcwd())
    from airbnb_cdc_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    for f in sorted(os.listdir(DATA_DIR)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{DATA_DIR}/{f}'")
    counts = {}
    for name in sorted(ORACLE_SQL):
        counts[name] = con.execute(f"SELECT count(*) FROM ({ORACLE_SQL[name]})").fetchone()[0]
    with open(os.path.join(HERE, "oracle_counts.json"), "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(counts)} oracle counts written")
    return 0


if __name__ == "__main__":
    sys.exit(main())
