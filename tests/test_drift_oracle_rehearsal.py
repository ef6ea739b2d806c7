"""``distribution_drift`` with the half split computed through a
broadcast join (the registry query collects the cut as a literal
instead) against the ``corpus_drift`` registry oracle at sf0.001, plus
what the registry gate (tests/test_registry_oracles.py) does not
check: that at least 10 buckets drift at this SF.

Query shape: reference corpus = doc_id <= max/2, new snapshot = the
rest; hashed-unigram buckets (the DSIR convention, 512 buckets); the
DENSE per-bucket drift table (bucket, ref_count, new_count, drift_num)
where drift_num = |new*R - ref*N| — exact integers end to end."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.importance import (
    distribution_drift,
    token_buckets,
)
from airbnb_cdc_spark.oracles import _CORPUS_DRIFT_ORACLE, _DRIFT_B

SF_DIR = "/root/testdata/sf0.001"


def test_corpus_drift_matches_duckdb_rehearsal(spark):
    from airbnb_cdc_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    cut = docs.agg((F.max("doc_id").cast("long") / 2).cast("long").alias("cut"))
    with_cut = docs.join(F.broadcast(cut))
    ref = with_cut.filter(F.col("doc_id") <= F.col("cut")).select("doc_id", "text")
    new = with_cut.filter(F.col("doc_id") > F.col("cut")).select("doc_id", "text")
    per = distribution_drift(
        token_buckets(ref, "text", _DRIFT_B),
        token_buckets(new, "text", _DRIFT_B),
        _DRIFT_B,
    ).select(
        "bucket",
        F.col("ref_count").cast("long").alias("ref_count"),
        F.col("new_count").cast("long").alias("new_count"),
        F.col("drift_num").cast("long").alias("drift_num"),
    )
    got = {
        r.bucket: (r.ref_count, r.new_count, r.drift_num) for r in per.collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = {
        row[0]: (row[1], row[2], row[3])
        for row in con.execute(_CORPUS_DRIFT_ORACLE).fetchall()
    }
    assert got == want  # bit-exact integers
    assert len(got) == _DRIFT_B
    # non-degenerate at this SF: the halves are near-identical by
    # construction (31 buckets move at sf0.001), but the hash target
    # is the full 512-row table, so any bucket-level change flips it
    assert sum(1 for v in got.values() if v[2] > 0) >= 10
