"""The dedup families against their DuckDB oracles: every leaf built on
minhash_band_pairs, and every leaf built on the rare-shingle blocking
(dedup.rare_pairs / shingle_sets), must return the oracle's row count and
value hash on the sf0.01 documents table."""

from __future__ import annotations

import os

import pytest

SF = "/root/testdata/sf0.01"
MINHASH_LEAVES = [
    "dedup_minhash_sig",
    "dedup_minhash_pairs",
    "dedup_union",
    "dedup_pr_eval",
    "dedup_cluster",
    "curate_docs",
]
RARE_SHINGLE_LEAVES = [
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_lcs_run",
    "kg_butterflies",
    "sample_coverage",
]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{SF}/documents.parquet'")
    yield con
    con.close()


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.01 testdata missing")
@pytest.mark.parametrize("leaf", MINHASH_LEAVES)
def test_minhash_leaf_matches_oracle(spark, duck, leaf, monkeypatch):
    _check_leaf(spark, duck, leaf, monkeypatch)


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.01 testdata missing")
@pytest.mark.parametrize("leaf", RARE_SHINGLE_LEAVES)
def test_rare_shingle_leaf_matches_oracle(spark, duck, leaf, monkeypatch):
    _check_leaf(spark, duck, leaf, monkeypatch)


def _check_leaf(spark, duck, leaf, monkeypatch):
    import __spark_entry__ as e
    from tools.check_oracle import value_hash

    monkeypatch.setenv("STRICT_FLOATS", "1")
    sdf = e.queries()[leaf](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.sql(e.oracle_sql()[leaf])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows) > 0
    assert value_hash(sdf.columns, srows) == value_hash(ocols, orows)
