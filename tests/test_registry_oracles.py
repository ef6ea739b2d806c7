"""Every registry query against its DuckDB oracle, at sf0.001 and sf0.01.

One case per (scale factor, ``queries()`` entry). The Spark result must
equal the oracle's under ``oracle_check.oracle_mismatches`` — the
comparator ``scripts/verify_local.py`` prints — and must not be empty,
unless the query is empty by design at that scale factor
(``EMPTY_BY_DESIGN``, which gives the reason)."""

from __future__ import annotations

from pathlib import Path

import pytest

import __spark_entry__ as e
from airbnb_cdc_spark.oracle_check import oracle_connection, oracle_mismatches
from airbnb_cdc_spark.session import DEFAULT_SF_DIR, release_cached

TESTDATA = Path(DEFAULT_SF_DIR).parent
SFS = ("sf0.001", "sf0.01")
QUERIES = e.queries()
ORACLES = e.oracle_sql()

EMPTY_BY_DESIGN = {
    ("sf0.001", "bilateral_trade_volume"): (
        "no 1996-97 lineitem ships between NATION_1 and NATION_2 at sf0.001"
    ),
}


@pytest.fixture(scope="module")
def duck():
    cons = {sf: oracle_connection(str(TESTDATA / sf)) for sf in SFS}
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize(
    "sf,name,empty_reason",
    [
        pytest.param(sf, name, EMPTY_BY_DESIGN.get((sf, name)), id=f"{sf}-{name}")
        for sf in SFS
        for name in QUERIES
    ],
)
def test_registry_oracle(spark, duck, sf, name, empty_reason):
    try:
        sdf = QUERIES[name](spark, str(TESTDATA / sf))
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    finally:
        release_cached()
    d = duck[sf].execute(ORACLES[name])
    d_cols = [c[0] for c in d.description]
    d_rows = [tuple(r) for r in d.fetchall()]

    problems = oracle_mismatches(s_cols, s_rows, d_cols, d_rows)
    assert not problems, "\n".join(problems)
    if empty_reason is None:
        assert s_rows, f"{name} returned no rows at {sf}"
    else:
        assert not s_rows, f"{name} is empty by design at {sf}: {empty_reason}"
