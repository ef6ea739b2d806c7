"""Bloom-bitset runtime filter: the contract is (a) ZERO false
negatives — every true match passes the bitset — for any sizing, and
(b) the verified semi-join equals the plain semi-join exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.bloomjoin import (
    bloom_mark,
    bloom_prune,
    bloom_semi_join,
)


def _frames(spark, fact_keys, dim_keys):
    fact = spark.createDataFrame([(k,) for k in fact_keys], "k long")
    dim = spark.createDataFrame([(k,) for k in dim_keys], "dk long")
    return fact, dim


def test_bloom_never_misses_a_match(spark):
    # tiny bitset (64 bits, 2 words) for 40 keys: heavily loaded, so
    # false positives are near-certain — misses must still be zero.
    fact, dim = _frames(spark, range(200), range(0, 200, 5))
    marked = bloom_mark(fact, dim, "k", "dk", num_bits=64, num_hashes=3)
    misses = marked.filter((F.col("k") % 5 == 0) & ~F.col("bloom_hit")).count()
    assert misses == 0


def test_bloom_semi_join_exact_for_any_sizing(spark):
    fact, dim = _frames(spark, range(500), [3, 77, 411, 499, 998])
    expected = {3, 77, 411, 499}
    for bits in (64, 4096):
        got = {
            r.k
            for r in bloom_semi_join(
                fact, dim, "k", "dk", num_bits=bits, num_hashes=3
            ).collect()
        }
        assert got == expected, f"num_bits={bits}"


def test_bloom_empty_dim_prunes_everything(spark):
    fact, dim = _frames(spark, range(50), [])
    assert bloom_prune(fact, dim, "k", "dk", num_bits=256, num_hashes=2).count() == 0
    assert bloom_semi_join(fact, dim, "k", "dk", num_bits=256, num_hashes=2).count() == 0


def test_bloom_prune_subsets_fact_and_supersets_matches(spark):
    fact, dim = _frames(spark, range(300), range(0, 300, 7))
    pruned = {r.k for r in bloom_prune(fact, dim, "k", "dk", num_bits=512, num_hashes=3).collect()}
    matches = set(range(0, 300, 7))
    assert matches <= pruned <= set(range(300))


def test_bloom_auto_sizing_tracks_dim_cardinality(spark):
    """num_bits=None derives the bitset from approx_count_distinct of
    the dim keys: ~8 bits/key rounded up to a power of two, floored at
    MIN_BLOOM_BITS and capped at MAX_BLOOM_BITS. A fixed default sized
    for 10^6 keys would either waste a 1 MiB literal on a 100-key dim
    or saturate (FPR -> 1) on a 10^9-key dim."""
    from airbnb_cdc_spark.operators import bloomjoin as bj

    small = spark.range(100).select(F.col("id").alias("dk"))
    bits, n_est = bj._auto_num_bits(small, "dk")
    assert bits == bj.MIN_BLOOM_BITS  # 100 keys * 8 = 800 < 1024 floor

    mid = spark.range(3000).select(F.col("id").alias("dk"))
    bits, n_est = bj._auto_num_bits(mid, "dk")
    # 3000*8 = 24000 -> next power of two (with ±5% HLL slack)
    assert 1 << 14 <= bits <= 1 << 16
    assert 2700 <= n_est <= 3300

    # duplicates don't inflate the estimate: 10k rows, 100 distinct
    dup = spark.range(10000).select((F.col("id") % 100).alias("dk"))
    bits, _ = bj._auto_num_bits(dup, "dk")
    assert bits == bj.MIN_BLOOM_BITS


def test_bloom_auto_sized_semi_join_and_overcap_fallback(spark, monkeypatch):
    """The auto-sized semi-join matches the explicit-sized result; and
    when the estimated dim key count exceeds the saturation threshold
    (< 1 bit/key even at MAX_BLOOM_BITS), the operator skips the bloom
    build entirely and runs the plain left_semi — identical rows, no
    bitset in the plan (no useless double fact scan)."""
    from airbnb_cdc_spark.operators import bloomjoin as bj

    fact, dim = _frames(spark, range(500), [3, 77, 411, 499, 998])
    expected = {3, 77, 411, 499}
    auto = bj.bloom_semi_join(fact, dim, "k", "dk")
    assert {r.k for r in auto.collect()} == expected

    # Force the fallback by shrinking the threshold below this dim.
    monkeypatch.setattr(bj, "_FALLBACK_KEYS", 2)
    fb = bj.bloom_semi_join(fact, dim, "k", "dk")
    assert {r.k for r in fb.collect()} == expected
    # fallback plan is the bare semi join: no bloom literal filter
    # (the bitset probe shows up as element_at(...) in the plan)
    plan = fb._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at" not in plan
    auto_plan = auto._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at" in auto_plan


@pytest.mark.parametrize("dim_type", ["decimal(18,2)", "double"])
def test_bloom_semi_join_bigint_fact_against_non_integral_dim(spark, dim_type):
    """bigint fact keys against decimal/double dim keys: the semi-join's
    type coercion matches 7 with 7.00 and 7.0, so the bloom must not
    prune those rows first (their string forms '7', '7.00' and '7.0'
    hash apart)."""
    fact = spark.range(100).select(F.col("id").alias("k"))
    dim = spark.range(0, 100, 10).select(F.col("id").cast(dim_type).alias("dk"))
    want = {r.k for r in fact.join(dim, fact.k == dim.dk, "left_semi").collect()}
    assert len(want) == 10
    for bits in (None, 4096):
        got = bloom_semi_join(fact, dim, "k", "dk", num_bits=bits)
        assert {r.k for r in got.collect()} == want, f"num_bits={bits}"
