"""Check registry queries against their DuckDB oracles from the command line.

Runs each ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01 (override with $SPARK_GRAFT_VERIFY_SF_DIR) and compares them
with ``airbnb_cdc_spark.oracle_check.oracle_mismatches`` — the same
comparator the default test tier runs over every query at sf0.001 and
sf0.01 (``tests/test_registry_oracles.py``). Use while iterating:

    python scripts/verify_local.py [query_name ...]
    SPARK_GRAFT_VERIFY_SF_DIR=/root/testdata/sf0.001 python scripts/verify_local.py

Exits 0 after printing ``all green``, 1 when any query fails, and 2 on
an unknown query name.
"""

from __future__ import annotations

import os
import sys
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as e  # noqa: E402
from airbnb_cdc_spark.oracle_check import (  # noqa: E402
    oracle_connection,
    oracle_mismatches,
)
from airbnb_cdc_spark.session import get_spark, release_cached  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    only = set(sys.argv[1:])
    qs, oracles = e.queries(), e.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo must not report 'all green' on zero queries run
        print(f"UNKNOWN query names: {sorted(unknown)}")
        return 2

    spark = get_spark("verify_local")
    con = oracle_connection(SF_DIR)

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # per-query isolation: one broken query must not abort the run
        # and swallow the report for everything after it
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"{name}: SPARK ERROR\n{traceback.format_exc(limit=3)}")
            failed.append(name)
            continue
        finally:
            release_cached()
        try:
            d = con.execute(oracles[name])
            d_cols = [c[0] for c in d.description]
            d_rows = [tuple(r) for r in d.fetchall()]
        except Exception:
            print(f"{name}: ORACLE ERROR\n{traceback.format_exc(limit=3)}")
            failed.append(name)
            continue

        problems = oracle_mismatches(s_cols, s_rows, d_cols, d_rows)
        for p in problems:
            print(f"{name}: {p}")
        print(f"{name}: {'FAIL' if problems else 'OK'} ({len(s_rows)} rows)")
        if problems:
            failed.append(name)
    if failed:
        print("FAILED:", failed)
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
