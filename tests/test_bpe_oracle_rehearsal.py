"""``bpe_apply`` with the registry's frozen rule table against the
``bpe_apply`` registry oracle at sf0.001, plus what the registry gate
(tests/test_registry_oracles.py) does not check: that both rules —
the self-pair rule included, which exercises greedy non-overlap on
runs — actually fire on this corpus, so the oracle is not the identity
tokenization.

The oracle replays the greedy left-to-right non-overlapping merge
EXACTLY via literal ``replace()`` over a sentinel-wrapped encoding
(``oracles._bpe_apply_sql``)."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.bpe import bpe_apply
from airbnb_cdc_spark.oracles import _BPE_APPLY_ORACLE, _BPE_RULES

SF_DIR = "/root/testdata/sf0.001"


def test_bpe_apply_matches_duckdb_rehearsal(spark):
    from airbnb_cdc_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    applied = bpe_apply(docs, [(r, a, b, f"{a} {b}") for r, a, b in _BPE_RULES])
    got = {
        r.doc_id: (r.n_bpe_tokens, r.bpe_text)
        for r in applied.select(
            "doc_id",
            F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.array_join("bpe_tokens", "|").alias("bpe_text"),
        ).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = {row[0]: (row[1], row[2]) for row in con.execute(_BPE_APPLY_ORACLE).fetchall()}
    assert got == want
    # the frozen rules actually fire on this corpus (non-degenerate)
    assert any("order fast" in v[1] for v in got.values())
    assert any("order order" in v[1] for v in got.values())
