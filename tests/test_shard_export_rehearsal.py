"""``shard_assign`` + ``pack_sequences`` with ``shard_pos`` JOINED BACK
from the sharded frame (the registry query carries it through the
packing select with ``keep_order_col=True`` instead) against the
``shard_pack_export`` registry oracle at sf0.001, plus what the
registry gate (tests/test_registry_oracles.py) does not check: every
shard is populated, none holds more than half the corpus, and another
seed yields another permutation.

Query shape: deterministic shuffle-shard (seeded 60-bit md5 hash,
shard = h % n, within-shard order (h, key)) composed with offset-based
greedy packing (budget 512). Everything is integer arithmetic over md5
prefixes, so the replay is bit-exact."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.sampling import pack_sequences, shard_assign
from airbnb_cdc_spark.queries import (
    _SHARD_BUDGET,
    _SHARD_N,
    _SHARD_PACK_ORACLE,
    _SHARD_SEED,
)

SF_DIR = "/root/testdata/sf0.001"


def test_shard_pack_export_matches_duckdb_rehearsal(spark):
    from airbnb_cdc_spark.functions.textfns import token_count
    from airbnb_cdc_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sharded = shard_assign(
        docs.select("doc_id", "text"), "doc_id", _SHARD_N, seed=_SHARD_SEED
    )
    packed = pack_sequences(
        sharded, "shard", "shard_pos", token_count(F.col("text")), _SHARD_BUDGET
    )
    # pack_sequences keeps (id, shard, n_tokens, token_offset, seq_id);
    # join shard_pos back from the sharded frame for the full contract
    out = packed.join(
        sharded.select("doc_id", "shard_pos"), "doc_id"
    ).select(
        "doc_id", "shard", "shard_pos", "n_tokens", "token_offset", "seq_id"
    )
    got = {
        r.doc_id: (r.shard, r.shard_pos, r.n_tokens, r.token_offset, r.seq_id)
        for r in out.collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = {
        row[0]: tuple(row[1:])
        for row in con.execute(_SHARD_PACK_ORACLE).fetchall()
    }
    assert got == want  # bit-exact integers end to end
    assert len(got) > 0
    # the shuffle actually spreads: every shard is populated and no
    # shard holds more than half the corpus at this SF
    from collections import Counter

    per_shard = Counter(v[0] for v in got.values())
    assert len(per_shard) == _SHARD_N
    assert max(per_shard.values()) <= len(got) / 2
    # a different seed yields a different permutation (same corpus)
    resharded = shard_assign(
        docs.select("doc_id", "text"), "doc_id", _SHARD_N, seed="other"
    )
    got2 = {
        r.doc_id: (r.shard, r.shard_pos)
        for r in resharded.select("doc_id", "shard", "shard_pos").collect()
    }
    assert got2 != {k: v[:2] for k, v in got.items()}
