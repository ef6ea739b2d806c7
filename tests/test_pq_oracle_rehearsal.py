"""The IN-MEMORY ``pq_refine_topk`` (codebook + encode + ADC shortlist
+ exact re-rank in one session) against the ``ann_topk_pq`` registry
oracle at sf0.001. The registry query runs the persisted PQ store
(``write_pq_index`` + ``query_pq_index_refined``) instead, so the
registry gate (tests/test_registry_oracles.py) never calls this
function; this also pins a full top-K for every query at this SF.

Query shape: pq_refine_topk(embeddings, vec_id % 50 == 0, k=5,
refine=10, m=16, dim=64, cb_mod=None→max(2, n//256), cb_rem=1) — ADC
shortlist of 50 by exact-integer PQ score, exact quantized-cosine
re-rank to 5. Every tie (code argmin, shortlist cut, final rank) breaks
on an id, so the replay is bit-exact."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.similarity import pq_refine_topk
from airbnb_cdc_spark.oracles import (
    _ANN_PQ_K,
    _ANN_PQ_M,
    _ANN_PQ_ORACLE,
    _ANN_PQ_REFINE,
)

SF_DIR = "/root/testdata/sf0.001"


def test_pq_refine_matches_duckdb_rehearsal(spark):
    from airbnb_cdc_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in pq_refine_topk(
            emb, queries, k=_ANN_PQ_K, refine=_ANN_PQ_REFINE, m=_ANN_PQ_M
        ).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = {
        (row[0], row[3]): (row[1], row[2])
        for row in con.execute(_ANN_PQ_ORACLE).fetchall()
    }
    assert got == want  # bit-exact: integer ADC, deterministic doubles
    # non-degenerate: every query yields a full top-K at this SF
    n_queries = queries.count()
    assert len(got) == n_queries * _ANN_PQ_K
