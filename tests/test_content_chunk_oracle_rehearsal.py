"""``content_chunk_dedup`` against the ``content_chunk_dedup``
registry oracle at sf0.001, plus what the registry gate
(tests/test_registry_oracles.py) does not check: that duplicate spans
exist at this SF, so the keeper/is_dup columns are exercised.

Query shape: Rabin-rule token boundaries (cut after tokens whose
h60 % 16 == 3), chunks hashed with md5 over the space-joined tokens,
first (doc_id, chunk_idx) occurrence keeps each hash. Everything is
md5 + integer arithmetic, so the replay is bit-exact."""

from __future__ import annotations

import duckdb

from airbnb_cdc_spark.operators.dedup import content_chunk_dedup
from airbnb_cdc_spark.oracles import _CC_DIVISOR, _CC_REM, _CONTENT_CHUNK_ORACLE

SF_DIR = "/root/testdata/sf0.001"


def test_content_chunk_dedup_matches_duckdb_rehearsal(spark):
    from airbnb_cdc_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    got = {
        (r.doc_id, r.chunk_idx): (
            r.chunk_tokens,
            r.chunk_hash,
            r.keep_doc_id,
            r.keep_chunk_idx,
            r.is_dup,
        )
        for r in content_chunk_dedup(
            docs, divisor=_CC_DIVISOR, rem=_CC_REM
        ).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = {
        (row[0], row[1]): (row[2], row[3], row[4], row[5], row[6])
        for row in con.execute(_CONTENT_CHUNK_ORACLE).fetchall()
    }
    assert got == want  # bit-exact: md5 + integer boundaries only
    assert len(got) > 0
    assert any(v[4] for v in got.values())  # dup spans exist at sf0.001
