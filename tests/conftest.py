from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from airbnb_cdc_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4)
    s.sparkContext.setLogLevel("WARN")
    yield s


# The slow tier (see pytest.ini): modules measured >40 s — or
# streaming/e2e by nature — in the r18 full-suite duration profile
# (3160 s total; these thirteen carry 2575 s of it). The default tier,
# which also runs every registry oracle at two SFs, took 994 s on a
# 4-core VM. Centralized here so a future heavy module is one line,
# not a per-file marker hunt.
_SLOW_MODULES = {
    "test_oracle_differential",  # 1681 s — randomized corpora; the
                                 # fixed-SF oracles run in the default
                                 # tier (test_registry_oracles)
    "test_scale_smoke",          # 524 s — 200k-row scale rehearsals
    "test_ivf_pq_index",         # 99 s — compaction-crash matrix
    "test_cdf",                  # 73 s — CDC e2e
    "test_pipeline_e2e",         # 40 s
    "test_matview",
    "test_merge_table",
    "test_streaming_dedup",
    "test_streaming_window",
    "test_streaming_docs",
    "test_streaming_sketch",
    "test_decontam_streaming",
    "test_drift_streaming",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.nodeid.split("::", 1)[0].rsplit("/", 1)[-1]
        if mod.endswith(".py"):
            mod = mod[:-3]
        if mod in _SLOW_MODULES:
            item.add_marker(pytest.mark.slow)
