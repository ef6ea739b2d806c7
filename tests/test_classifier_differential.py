"""Randomized Spark-vs-DuckDB differential for the quality
classifier (the planned-r13 query, pre-proven on generated corpora):
the exact-integer NB-ratio weights, BIGINT margins, and top-K cut
must agree with the ``quality_classifier_topk`` oracle on random tiny
corpora — empty texts, missing classes, all-tie margins, skewed class
draws."""

from __future__ import annotations

import math

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.classifier import (
    classify,
    fit_quality_classifier,
    token_buckets,
)
from airbnb_cdc_spark.oracles import (
    _CLF_BUCKETS as N_BUCKETS,
    _CLF_K as K,
    _CLF_SCALE as SCALE,
    _CLF_TARGET as TARGET,
    _CLF_TOPK_ORACLE,
)

WORDS = ["agg", "row", "scan", "the", "a", "of", "and", "is", "to", "zz"]


@st.composite
def _docs_table(draw):
    n = draw(st.integers(min_value=1, max_value=10))
    rows = []
    for i in range(n):
        words = draw(st.lists(st.sampled_from(WORDS), min_size=0, max_size=12))
        source = draw(st.sampled_from([TARGET, "s1", "s2"]))
        rows.append((i, " ".join(words), source))
    return rows


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 10))
    return str(v)


@settings(max_examples=12, deadline=None)
@given(rows=_docs_table())
def test_classifier_differential(spark, tmp_path_factory, rows):
    tmp = tmp_path_factory.mktemp("clfdiff")
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp / "documents.parquet")
    )
    docs = spark.read.parquet(str(tmp / "documents.parquet"))

    tok = token_buckets(
        docs.select("doc_id", "source", "text"), "text", N_BUCKETS
    )
    model = fit_quality_classifier(
        tok.filter(F.col("source") == TARGET),
        tok.filter(F.col("source") != TARGET),
        N_BUCKETS,
        SCALE,
    )
    cand = docs.filter(F.col("source") != TARGET).select("doc_id", "text")
    scored = classify(cand, model, "text", "doc_id", N_BUCKETS, SCALE)
    top = scored.orderBy(F.col("margin").desc(), F.col("doc_id")).limit(K)
    s_rows = sorted(
        (r.doc_id, r.margin_sum, r.n_tokens, _norm(r.margin), r.label)
        for r in top.collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp}/documents.parquet/*.parquet'"
    )
    d_rows = sorted(
        (r[0], r[1], r[2], _norm(r[3]), r[4])
        for r in con.execute(_CLF_TOPK_ORACLE).fetchall()
    )
    assert s_rows == d_rows
