"""Spark-vs-DuckDB comparison of a registry query with its oracle.

``oracle_connection`` opens one DuckDB connection with a view per
``session.TABLES`` parquet file at a scale-factor directory;
``oracle_mismatches`` compares a Spark result with its oracle's result.
``scripts/verify_local.py`` (the one-query CLI) and
``tests/test_registry_oracles.py`` (the default-tier gate over every
query at two scale factors) both call these, so the two cannot drift.

The comparison is order-insensitive: sorted column names, row count,
then the multiset of rows with every cell stringified. Float cells
compare by bare ``repr`` — DELIBERATELY stricter than the differential
tests' round-to-10-places: the repo's exact-decimal discipline promises
bit-identical doubles, and the strict compare is what has caught real
divergence (the r6 OLS-trend cancellation bug showed up only past the
7th digit).
"""

from __future__ import annotations

import math
from collections import Counter
from pathlib import Path

import duckdb

from airbnb_cdc_spark.session import TABLES


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table parquet under ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def oracle_mismatches(s_cols, s_rows, d_cols, d_rows) -> list[str]:
    """Problems found comparing Spark's (columns, rows) with DuckDB's;
    an empty list means the results are equal."""
    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(
            f"SCHEMA MISMATCH spark={sorted(s_cols)} duck={sorted(d_cols)}"
        )
    if len(s_rows) != len(d_rows):
        problems.append(f"ROWCOUNT MISMATCH spark={len(s_rows)} duck={len(d_rows)}")
    if problems:
        return problems
    cols, sn = _normalize(s_rows, s_cols)
    _, dn = _normalize(d_rows, d_cols)
    if sn == dn:
        return []
    # multiset difference, NOT positional zip: one odd row shifts sorted
    # order and would misalign every pair after it, reporting unrelated
    # rows as different
    s_only = Counter(sn) - Counter(dn)
    d_only = Counter(dn) - Counter(sn)
    for label, bag in (("spark-only", s_only), ("duck-only", d_only)):
        for row, cnt in list(bag.items())[:3]:
            problems.append(f"{label} x{cnt}: {dict(zip(cols, row))}")
    problems.append(
        f"VALUE MISMATCH ({sum(s_only.values())} spark-only / "
        f"{sum(d_only.values())} duck-only of {len(sn)} rows)"
    )
    return problems
