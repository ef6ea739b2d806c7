"""Fast tests of the benchmark's own parts (no Spark session):

    python3 -m pytest perfbench/tests -q      # from the repository root
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import check  # noqa: E402
import compare  # noqa: E402
import metrics  # noqa: E402
from gen import AGG_MEASURE_NAMES, CSV_HEADER, FACT_COLUMNS, CdcGenerator  # noqa: E402


def _scenario(seed: int):
    g = CdcGenerator(seed)
    texts = [g.customer_csv(range(1, 301), "base")]
    texts += [g.booking_file(200) for _ in range(4)]
    texts.append(g.customer_csv(g.delta_ids(20), "d1"))
    texts += [g.booking_file(200) for _ in range(2)]
    return g, texts


def test_generator_is_byte_identical_per_seed():
    g1, a = _scenario(7)
    g2, b = _scenario(7)
    assert a == b
    assert g1.fact_rows() == g2.fact_rows() and g1.dim_rows() == g2.dim_rows()
    assert _scenario(8)[1] != a
    # every named fault share is present in the feed
    assert all(g1.counts[k] > 0 for k in ("malformed", "duplicate", "stale", "cancel"))


def _write_table(path: str, columns, rows) -> None:
    os.makedirs(f"{path}/_bucket=0", exist_ok=True)
    table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(columns)})
    pq.write_table(table, f"{path}/_bucket=0/part-0.parquet")


def _warehouse(tmp_path, g, fact_rows):
    wh = str(tmp_path / "wh")
    _write_table(f"{wh}/dim_customer", CSV_HEADER, g.dim_rows())
    _write_table(f"{wh}/fact_booking", FACT_COLUMNS, fact_rows)
    agg = g.aggregate()
    _write_table(
        f"{wh}/booking_customer_aggregation",
        ("country",) + AGG_MEASURE_NAMES,
        [(c, *[m[k] for k in AGG_MEASURE_NAMES]) for c, m in agg.items()],
    )
    return wh


def test_checker_accepts_the_truth(tmp_path):
    g, _ = _scenario(3)
    assert check.check_warehouse(_warehouse(tmp_path, g, g.fact_rows()), g) == []


def test_checker_rejects_a_planted_wrong_row(tmp_path):
    g, _ = _scenario(3)
    rows = g.fact_rows()
    bad = list(rows[5])
    bad[FACT_COLUMNS.index("nights")] = "99"
    rows[5] = tuple(bad)
    problems = check.check_warehouse(_warehouse(tmp_path, g, rows), g)
    assert any(f"key {bad[0]}" in p for p in problems), problems


def test_checker_rejects_an_applied_stale_update(tmp_path):
    g, texts = _scenario(3)
    # a stale document is a Confirmed version older than a booking's
    # current (Cancelled) row; applying it must be caught
    stale = None
    for text in texts[1:]:
        for line in text.splitlines():
            if not line.startswith("{"):
                continue
            d = json.loads(line)
            cur = g.fact.get(d["booking_id"])
            if cur and cur["status"] == "Cancelled" and d["updated_at"] < cur["updated_at"]:
                stale = d
    assert stale is not None
    g_rows = g.fact_rows()
    idx = next(i for i, r in enumerate(g_rows) if r[0] == stale["booking_id"])
    from gen import _fact_text

    g_rows[idx] = tuple(_fact_text(stale))
    problems = check.check_warehouse(_warehouse(tmp_path, g, g_rows), g)
    assert any(stale["booking_id"] in p for p in problems), problems


def test_checker_rejects_a_wrong_query_count():
    assert check.check_query_count("q", 3, {"q": 3}) == []
    assert check.check_query_count("q", 4, {"q": 3})
    assert check.check_query_count("unknown", 4, {"q": 3})


@pytest.mark.parametrize(
    "n,p", [(10, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
            (199, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_rule(n, p):
    assert metrics.tail_percentile(n) == p


def test_family_map_covers_every_registered_query_once():
    from workloads import FAMILIES, family

    from airbnb_cdc_spark.queries import QUERIES

    fams = {name: family(name) for name in QUERIES}
    assert set(fams.values()) == set(FAMILIES)
    assert all(f in FAMILIES for f in fams.values())


def test_registry_subset_is_registered_and_has_oracle_counts():
    from workloads import REGISTRY_SUBSET, family

    from airbnb_cdc_spark.queries import QUERIES

    with open(os.path.join(BENCH, "oracle_counts.json")) as f:
        counts = json.load(f)
    assert set(counts) == set(QUERIES)
    assert set(REGISTRY_SUBSET) <= set(QUERIES)
    assert {family(n) for n in REGISTRY_SUBSET} == {"similarity", "dedup", "text", "other"}


def test_compare_verdicts():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.0, 10.1, 10.2]
    faster = [x * 0.8 for x in parent]
    row = compare.judge(parent, faster, better="lower", bound=0.1)
    assert row["verdict"] == "gain" and row["wins"] == 10
    row = compare.judge(parent, parent, better="lower", bound=0.1)
    assert row["verdict"] == "unchanged"
    slower = [x * 1.3 for x in parent]
    assert compare.judge(parent, slower, better="lower", bound=0.1)["verdict"] == "regression"
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert compare.judge(noisy, noisy, better="lower", bound=0.1)["verdict"] == "unresolved"
    # two pairs never make a gain, however lopsided
    assert compare.judge(parent[:2], faster[:2], better="lower", bound=0.1)["verdict"] != "gain"


def test_traced_runs_alternate_traced_and_untraced_steps():
    from spans import Tracer
    from workloads import MIN_STEPS, Run

    run = Run(None, "", seed=1, seconds=0, tracer=Tracer(True, "t"))
    kinds = list(run.schedule())
    assert kinds == [True, False] * MIN_STEPS
    assert run.tracer.enabled
    run = Run(None, "", seed=1, seconds=0, tracer=Tracer(False, "u"))
    assert list(run.schedule()) == [False] * MIN_STEPS
