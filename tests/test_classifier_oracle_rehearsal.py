"""The quality classifier fitted and applied IN MEMORY (no model or
verdict store round trip) against the ``quality_classifier_topk``
registry oracle at sf0.001. The registry query reads its model and
verdicts from per-process parquet stores, so the registry gate
(tests/test_registry_oracles.py) never runs this path; this also pins
that the top-K cut is full (K rows) at this SF.

Query shape: positive class = the ``_CLF_TARGET`` source, negative
class = every other source, candidates = the negative pool, output =
the TOP-K verdict rows by (margin desc, doc_id) — the keep_quality
selection form. A bare label column is all-0 at sf0.001/0.01 (the
negative class IS the candidate pool, so almost nothing clears the
neutral mean), so the top-K cut is the discriminative shape."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.classifier import (
    classify,
    fit_quality_classifier,
    token_buckets,
)
from airbnb_cdc_spark.oracles import (
    _CLF_BUCKETS,
    _CLF_K,
    _CLF_SCALE,
    _CLF_TARGET,
    _CLF_TOPK_ORACLE,
)

SF_DIR = "/root/testdata/sf0.001"


def test_classifier_matches_duckdb_rehearsal(spark):
    from airbnb_cdc_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    tok = token_buckets(
        docs.select("doc_id", "source", "text"), "text", _CLF_BUCKETS
    )
    model = fit_quality_classifier(
        tok.filter(F.col("source") == _CLF_TARGET),
        tok.filter(F.col("source") != _CLF_TARGET),
        _CLF_BUCKETS,
        _CLF_SCALE,
    )
    cand = docs.filter(F.col("source") != _CLF_TARGET).select("doc_id", "text")
    scored = classify(cand, model, "text", "doc_id", _CLF_BUCKETS, _CLF_SCALE)
    top = scored.orderBy(F.col("margin").desc(), F.col("doc_id")).limit(_CLF_K)
    got = {
        r.doc_id: (r.margin_sum, r.n_tokens, r.margin, r.label)
        for r in top.collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = {
        row[0]: (row[1], row[2], row[3], row[4])
        for row in con.execute(_CLF_TOPK_ORACLE).fetchall()
    }
    assert got == want  # bit-exact: ints, one final division, int label
    assert len(got) == _CLF_K  # the top-K cut is non-degenerate at every SF
