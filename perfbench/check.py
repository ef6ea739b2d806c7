"""Output checker: the warehouse a CDC run leaves against the generator's
ground truth, and registry row counts against stored DuckDB oracle counts.

The warehouse is read with DuckDB straight from the parquet files, so the
check shares no code with the Spark engine it checks. Every function
returns a list of named problems; an empty list means correct.
"""

from __future__ import annotations

import math

import duckdb

from gen import AGG_MEASURE_NAMES as AGG_MEASURES
from gen import CSV_HEADER, FACT_COLUMNS


def _text_rows(con, table_dir: str, columns) -> list[tuple]:
    cols = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in columns)
    return con.execute(
        f"SELECT {cols} FROM read_parquet('{table_dir}/_bucket=*/*.parquet')"
    ).fetchall()


def _diff_keyed(table: str, got: list[tuple], want: list[tuple], limit: int = 3) -> list[str]:
    problems = []
    got_by = {}
    for r in got:
        if r[0] in got_by:
            problems.append(f"{table}: duplicate key {r[0]}")
        got_by[r[0]] = r
    want_by = {r[0]: r for r in want}
    missing = sorted(set(want_by) - set(got_by), key=str)
    extra = sorted(set(got_by) - set(want_by), key=str)
    wrong = sorted((k for k in want_by.keys() & got_by.keys() if want_by[k] != got_by[k]), key=str)
    if missing:
        problems.append(f"{table}: {len(missing)} missing keys, e.g. {missing[:limit]}")
    if extra:
        problems.append(f"{table}: {len(extra)} unexpected keys, e.g. {extra[:limit]}")
    for k in wrong[:limit]:
        problems.append(f"{table}: key {k} is {got_by[k]}, expected {want_by[k]}")
    if len(wrong) > limit:
        problems.append(f"{table}: {len(wrong)} wrong rows in all")
    return problems


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(b, float):
        return math.isclose(float(a), b, rel_tol=1e-9, abs_tol=1e-9)
    return str(a) == str(b)


def check_warehouse(warehouse: str, gen) -> list[str]:
    """``dim_customer``, ``fact_booking`` and the aggregate under
    ``warehouse`` against ``gen``'s ground truth."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        problems = _diff_keyed(
            "dim_customer", _text_rows(con, f"{warehouse}/dim_customer", CSV_HEADER), gen.dim_rows()
        )
        problems += _diff_keyed(
            "fact_booking", _text_rows(con, f"{warehouse}/fact_booking", FACT_COLUMNS), gen.fact_rows()
        )
        cols = ", ".join(f'"{c}"' for c in AGG_MEASURES)
        got = {
            r[0]: dict(zip(AGG_MEASURES, r[1:]))
            for r in con.execute(
                f"SELECT country, {cols} FROM read_parquet("
                f"'{warehouse}/booking_customer_aggregation/_bucket=*/*.parquet')"
            ).fetchall()
        }
    finally:
        con.close()
    want = gen.aggregate()
    if set(got) != set(want):
        problems.append(f"aggregate: countries {sorted(got, key=str)} != {sorted(want, key=str)}")
    for country in want.keys() & got.keys():
        for m in AGG_MEASURES:
            if not _close(got[country][m], want[country][m]):
                problems.append(
                    f"aggregate: {country}.{m} is {got[country][m]}, expected {want[country][m]}"
                )
    return problems


def check_query_count(name: str, count: int, oracle_counts: dict[str, int]) -> list[str]:
    want = oracle_counts.get(name)
    if want is None:
        return [f"{name}: no stored oracle count"]
    return [] if count == want else [f"{name}: {count} rows, oracle has {want}"]
