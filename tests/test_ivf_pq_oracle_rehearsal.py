"""The IN-MEMORY ``ivf_pq_topk`` (centroids, assignment, codebook and
encode recomputed in session) against the ``ann_topk_ivf_pq`` registry
oracle at sf0.001. The registry query runs the persisted store
(``build_ivf_pq_index`` + ``query_ivf_pq_index``) instead, so the
registry gate (tests/test_registry_oracles.py) never calls this
function.

Query shape: ivf_pq_topk(embeddings, vec_id % 50 == 0, k=5,
centroid_mod=37, centroid_rem=3, nprobe=2, m=16, dim=64,
cb_mod=None→max(2, n//256), cb_rem=1) — IVF pruning by exact quantized
cosine composed with PQ/ADC candidate scoring. Integer sums and id
tie-breaks end to end — bit-exact replay."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.similarity import ivf_pq_topk
from airbnb_cdc_spark.oracles import _ANN_IVF_PQ_ORACLE

SF_DIR = "/root/testdata/sf0.001"
K, NPROBE, M = 5, 2, 16  # the registry query's parameters


def test_ivf_pq_matches_duckdb_rehearsal(spark):
    from airbnb_cdc_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.pq_score)
        for r in ivf_pq_topk(
            emb,
            queries,
            k=K,
            centroid_mod=37,
            centroid_rem=3,
            nprobe=NPROBE,
            m=M,
        ).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = {
        (row[0], row[3]): (row[1], row[2])
        for row in con.execute(_ANN_IVF_PQ_ORACLE).fetchall()
    }
    assert got == want  # bit-exact: integer ADC over pruned candidates
    assert len(got) > 0
