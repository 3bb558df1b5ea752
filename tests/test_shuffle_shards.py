"""Deterministic shuffle-into-shards (the reproducible pre-training
shuffle). The driver gate sits at its 50-entry cap (CLAUDE.md), so the
op is verified by an IN-PYTEST DuckDB twin at the gate's rigor on the
real sf0.001 documents table, plus structural-property, determinism,
guard, and physical-plan tests.
"""

from __future__ import annotations

import duckdb
import pytest

from v2_ocr_spark.operators.corpus import shuffle_shards_for

SF = "/root/testdata/sf0.001"


def _twin(path: str, n_shards: int, seed: str):
    return duckdb.sql(f"""
    WITH keyed AS (
      SELECT doc_id, md5('{seed}' || ':' || doc_id) AS k,
        CAST(('0x' || substr(md5('{seed}' || ':' || doc_id), 1, 15))
             ::UBIGINT % {n_shards} AS INT) AS shard
      FROM read_parquet('{path}'))
    SELECT doc_id, shard,
      CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
           AS INT) AS pos
    FROM keyed ORDER BY doc_id
    """).fetchall()


def test_shuffle_shards_matches_duckdb_twin(spark, documents):
    got = sorted(
        (r.doc_id, r.shard, r.pos)
        for r in shuffle_shards_for(documents, n_shards=8).collect()
    )
    exp = sorted(tuple(r) for r in _twin(
        f"{SF}/documents.parquet", 8, "shuf"))
    assert got == exp
    assert len(got) == 500


def test_shuffle_shards_structure_and_determinism(spark, documents):
    a = shuffle_shards_for(documents, n_shards=8).collect()
    b = shuffle_shards_for(documents, n_shards=8).collect()
    # deterministic across runs (and partitionings — the key is
    # content-derived, not layout-derived)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every doc exactly once; pos dense 1..|shard| per shard
    assert len({r.doc_id for r in a}) == 500
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == set(range(8))  # md5-uniform: none empty
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # a different seed actually reshuffles
    c = shuffle_shards_for(documents, n_shards=8, seed="other").collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_shuffle_shards_guard(spark):
    docs = spark.createDataFrame([(1,)], "doc_id bigint")
    with pytest.raises(ValueError, match="n_shards"):
        shuffle_shards_for(docs, n_shards=0)


def test_shuffle_shards_plan(spark, documents):
    p = (
        shuffle_shards_for(documents, n_shards=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # ONE hash exchange on shard; no global total order, no Python
    assert "hashpartitioning(shard" in p
    assert "rangepartitioning" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
