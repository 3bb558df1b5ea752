"""SemDeDup-style k-means + within-cluster semantic near-dup.

The driver gate sits at its 50-entry cap (CLAUDE.md), so these
operators are verified by an IN-PYTEST pure-Python twin at the
expected-parquet oracles' rigor (plain loops, the oracle_expected
conventions: unit_vectors / _dot / xxh64_long are the already-pinned
independent primitives) — full assignment and pair-set equality on the
real sf0.001 embeddings — plus a planted-near-duplicate fixture
(the real corpus is isotropic noise: max pairwise cosine ~0.48, so a
high-threshold run would be vacuous without planting), guard tests,
and a physical-plan audit.
"""

from __future__ import annotations

import math

import duckdb
import pyspark.sql.functions as F
import pytest

from v2_ocr_spark.fixtures.oracle_expected import _dot, round6, unit_vectors
from v2_ocr_spark.kernels.xxh import xxh64_long
from v2_ocr_spark.operators.similarity import (
    _COORD_NANO,
    kmeans_assign_for,
    kmeans_clusters,
    semantic_near_dup_pairs_for,
    with_unit_norm,
)

SF = "/root/testdata/sf0.001"


def _load_rows(extra=()):
    rows = duckdb.sql(
        f"SELECT vec_id, embedding "
        f"FROM read_parquet('{SF}/embeddings.parquet')"
    ).fetchall()
    return rows + list(extra)


def _q_nano(x: float) -> int:
    # Spark F.round(x, 0) is HALF_UP (away from zero); Python round()
    # is banker's — mirror HALF_UP explicitly
    return int(math.floor(abs(x) * _COORD_NANO + 0.5)) * (
        1 if x >= 0 else -1
    )


def _py_kmeans(units: dict, k: int, n_iter: int) -> dict:
    """Plain-loop twin of kmeans_assign_for: hash-order seeds, argmax
    (x.c - |c|^2/2) with asc-cell tiebreak, integer-nano mean updates."""

    def assign(cents):
        return {
            vid: max(
                cents, key=lambda c: (_dot(u, c[1]) - c[2] / 2, -c[0])
            )[0]
            for vid, u in units.items()
        }

    order = sorted(units, key=xxh64_long)
    cents = [
        (cid + 1, units[vid], _dot(units[vid], units[vid]))
        for cid, vid in enumerate(order[:k])
    ]
    for _ in range(n_iter):
        groups: dict[int, list] = {}
        for vid, cell in assign(cents).items():
            groups.setdefault(cell, []).append(units[vid])
        cents = []
        for cell in sorted(groups):
            ms = groups[cell]
            dim = len(ms[0])
            c = [
                float(sum(_q_nano(m[j]) for m in ms))
                / (len(ms) * float(_COORD_NANO))
                for j in range(dim)
            ]
            cents.append((cell, c, _dot(c, c)))
    return assign(cents)


def _py_pairs(units: dict, final: dict, threshold: float) -> set:
    out = set()
    ids = sorted(units)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if final[a] != final[b]:
                continue
            cos = _dot(units[a], units[b])
            if cos >= threshold:
                out.add((a, b, final[a], round6(cos)))
    return out


@pytest.mark.parametrize("n_iter", [0, 3])
def test_kmeans_matches_pure_python_twin(spark, embeddings, n_iter):
    units = unit_vectors(_load_rows())
    exp = _py_kmeans(units, 16, n_iter)
    got = kmeans_clusters(embeddings, 16, n_iter)
    rows = {r.vec_id: r.cluster_id for r in got.collect()}
    got.unpersist()
    assert rows == exp
    # clusters PARTITION the corpus and none is degenerate after the
    # Lloyd refinement
    assert len(rows) == len(units)
    if n_iter:
        sizes = {}
        for c in rows.values():
            sizes[c] = sizes.get(c, 0) + 1
        assert len(sizes) == 16 and min(sizes.values()) > 1


def test_semantic_near_dup_matches_pure_python_twin(spark, embeddings):
    units = unit_vectors(_load_rows())
    final = _py_kmeans(units, 16, 3)
    exp = _py_pairs(units, final, 0.4)
    got = semantic_near_dup_pairs_for(
        with_unit_norm(embeddings).select("vec_id", "unit"), 16, 3,
        threshold=0.4,
    )
    rows = {
        (r.id_a, r.id_b, r.cluster_id, r.cosine) for r in got.collect()
    }
    got.unpersist()
    assert rows == exp
    # non-vacuous on the isotropic fixture: the >=0.4 pair set is
    # small but real (probed: 23 of the 66 global pairs co-cluster)
    assert len(exp) == 23


def test_semantic_near_dup_planted(spark):
    """Five planted near-duplicates (a real vector plus a tiny
    deterministic perturbation, cosine ~0.999) must surface as exactly
    the high-threshold pair set — the SemDeDup contract: a true
    near-duplicate lands in its original's cluster and is found by the
    within-cluster scan."""
    base = _load_rows()
    by_id = dict(base)
    planted = []
    for i in range(5):
        src_id = i * 50
        v = [float(x) for x in by_id[src_id]]
        v[0] += 1e-3
        planted.append((900_000 + src_id, v))
    units = unit_vectors(base + planted)
    final = _py_kmeans(units, 16, 3)
    exp = _py_pairs(units, final, 0.98)
    # the planted pairs are the ONLY >=0.98 pairs, and all co-cluster
    assert {(a, b) for a, b, _, _ in exp} == {
        (i * 50, 900_000 + i * 50) for i in range(5)
    }

    emb = spark.createDataFrame(
        [(vid, vec) for vid, vec in base + planted],
        "vec_id bigint, embedding array<double>",
    )
    got = semantic_near_dup_pairs_for(
        with_unit_norm(emb).select("vec_id", "unit"),
        16,
        3,
        threshold=0.98,
    )
    rows = {
        (r.id_a, r.id_b, r.cluster_id, r.cosine) for r in got.collect()
    }
    got.unpersist()
    assert rows == exp


def test_kmeans_and_pair_guards(spark):
    emb = with_unit_norm(
        spark.read.parquet(f"{SF}/embeddings.parquet")
    ).select("vec_id", "unit")
    with pytest.raises(ValueError, match="k must be"):
        kmeans_assign_for(emb, k=0)
    with pytest.raises(ValueError, match="n_iter"):
        kmeans_assign_for(emb, n_iter=-1)
    with pytest.raises(ValueError, match="threshold"):
        semantic_near_dup_pairs_for(emb, threshold=0.0)
    # k=1 puts all 500 vectors in one cluster: the max_cluster guard
    # must refuse the hidden O(n^2) scan
    with pytest.raises(ValueError, match="max_cluster"):
        semantic_near_dup_pairs_for(
            emb, k=1, n_iter=0, threshold=0.4, max_cluster=100
        )


def test_semantic_near_dup_plan(spark, embeddings):
    got = semantic_near_dup_pairs_for(
        with_unit_norm(embeddings).select("vec_id", "unit"), 16, 1,
        threshold=0.4,
    )
    p = got._jdf.queryExecution().executedPlan().toString()
    got.unpersist()
    # centroid scoring is a broadcast of k rows, never a real
    # cartesian; the pair scan is an equi-join on cell_id
    assert "CartesianProduct" not in p
    # the argmax collapses map-side (partial max_by), so the per-
    # iteration shuffle is corpus-size, not corpus x k
    assert "partial_max_by" in p.lower()
    # scoring dots are the BLAS pandas UDF, not interpreted
    # higher-order functions
    assert "ArrowEvalPython" in p
    # the pair dot evaluates ONCE: the persisted result embeds the
    # final AQE plan, where the deterministic UDF used to appear as
    # TWO ArrowEvalPython nodes (threshold Filter + output Project —
    # the documented Filter-over-Project duplication trap). The plan
    # string renders the same node in both the Final and Initial AQE
    # sections, so count DISTINCT output attr ids, not occurrences.
    import re

    evals = set(re.findall(r"ArrowEvalPython \[_dot_pd\(unit_a[^\n]*?\[(pythonUDF\d+#\d+)\]", p))
    assert len(evals) == 1, evals


def test_dot_pd_udf_not_mutated_by_eval_once_variant(spark):
    """asNondeterministic() mutates the UDF object it is called on
    (shared `_unwrapped`), so the eval-once variant must be a SEPARATE
    instance — the shared _dot_pd staying deterministic is what keeps
    every other scoring plan stable regardless of whether semantic
    dedup ran earlier in the session. This test runs AFTER the plan
    test exercised the operator, so it checks the post-use state."""
    from v2_ocr_spark.operators.similarity import _dot_pd, _dot_pd_once

    assert _dot_pd.deterministic is True
    assert _dot_pd_once.deterministic is False
    assert _dot_pd._unwrapped is not _dot_pd_once._unwrapped


def test_kmeans_recovers_separable_mixture(spark):
    """Semantic-quality pin on STRUCTURED data (every other fixture is
    isotropic noise): 4 well-separated Gaussian components must come
    out PURE — no cluster mixes components (components may split
    across clusters; k=16 > 4 by design) — and the within-cluster
    near-dup scan must find only within-component pairs. Twin equality
    is asserted on the same fixture, so the Spark run inherits the
    probed pure-Python structure."""
    import random

    rng = random.Random(5)
    rows = []
    comp_of = {}
    for c in range(4):
        for j in range(50):
            vid = c * 1000 + j
            v = [rng.gauss(0, 0.3) for _ in range(64)]
            v[c] += 5.0
            rows.append((vid, v))
            comp_of[vid] = c
    units = unit_vectors(rows)
    final = _py_kmeans(units, 16, 3)

    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    assigned = kmeans_assign_for(
        with_unit_norm(emb).select("vec_id", "unit"), 16, 3
    )
    got = {r.vec_id: r.cell_id for r in assigned.collect()}
    assigned.unpersist()
    assert got == final
    # purity: pinned on this deterministic fixture (probed: 16
    # clusters, zero impure)
    clusters: dict[int, set] = {}
    for vid, cell in got.items():
        clusters.setdefault(cell, set()).add(comp_of[vid])
    assert len(clusters) == 16
    assert all(len(comps) == 1 for comps in clusters.values())

    pairs = semantic_near_dup_pairs_for(
        with_unit_norm(emb).select("vec_id", "unit"),
        16,
        3,
        threshold=0.9,
    )
    prows = pairs.collect()
    pairs.unpersist()
    assert prows  # within-component near-dups exist at 0.9
    assert all(comp_of[r.id_a] == comp_of[r.id_b] for r in prows)


@pytest.mark.parametrize(
    "op",
    ["cluster_pairs", "kmeans", "srp_lsh", "minhash", "clusters",
     "kmeans_clusters"],
)
def test_failed_materialization_releases_persists(
    spark, embeddings, documents, monkeypatch, op
):
    """A persist whose materializing count fails is released before the
    error propagates — no cached RDD outlives the call without an
    owner, and neither do the call's other intermediates. The failure
    is planted with a raise_error column on the persisted result
    (ragged vectors for the pair set, a poisoned input edge for the
    clusters, a failing count for the k-means cluster projection)."""
    from v2_ocr_spark.operators import dedup as D
    from v2_ocr_spark.operators import similarity as S

    boom = F.raise_error(F.lit("planted failure"))
    emb = with_unit_norm(
        spark.read.parquet(f"{SF}/embeddings.parquet")
    ).select("vec_id", "unit")

    def persistent():
        # k-means' centroid tables are localCheckpoint RDDs (a k-row
        # lineage cut the session keeps by design) — count persists only
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return sum(
            not rdds.get(i).rdd().isLocallyCheckpointed()
            for i in rdds.keySet().toArray()
        )

    # a persist can fail before its cached RDD exists (the planted
    # column may abort an earlier stage) — so also check every
    # DataFrame the call persisted is released
    persisted = []
    orig_persist = type(emb).persist

    def tracking(df, *args, **kw):
        persisted.append(df)
        return orig_persist(df, *args, **kw)

    monkeypatch.setattr(type(emb), "persist", tracking)
    before = persistent()
    planted = "planted failure"
    if op == "cluster_pairs":
        # ragged vectors in one cell: the guard and the join pass, and
        # only the pair set's persist reaches the dot product (a column
        # poisoned before the join would fail in the shuffle, before
        # the cache exists)
        assigned = spark.createDataFrame(
            [(i, [1.0] * (2 + i % 2), 0) for i in range(8)],
            "vec_id long, unit array<double>, cell_id int",
        )
        planted = "same shape"
        call = lambda: S._cluster_pairs(assigned, 0.5, 50_000)  # noqa: E731
    elif op == "kmeans":
        orig = S._assign_euclid
        monkeypatch.setattr(
            S, "_assign_euclid",
            lambda e, c: orig(e, c).withColumn("boom", boom),
        )
        call = lambda: kmeans_assign_for(emb, 4, 0)  # noqa: E731
    elif op == "minhash":
        # candidates and the owned docs cache materialize; the verified
        # pair set's count fails
        orig = D.verify_jaccard
        monkeypatch.setattr(
            D, "verify_jaccard",
            lambda *a: orig(*a).withColumn(
                "jaccard", F.coalesce(boom.cast("double"), F.col("jaccard"))
            ),
        )
        call = lambda: D.minhash_lsh_pairs_for(documents)  # noqa: E731
    elif op == "clusters":
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
        ).withColumn("doc_b", F.coalesce(boom.cast("long"), F.col("doc_b")))
        call = lambda: D.duplicate_clusters(pairs)  # noqa: E731
    elif op == "kmeans_clusters":
        # the assignment is cached whole, so no planted column can fail
        # only the projection kmeans_clusters persists: fail its count
        orig_count = type(emb).count

        def count(df):
            if df.columns == ["vec_id", "cluster_id"]:
                raise RuntimeError(planted)
            return orig_count(df)

        monkeypatch.setattr(type(emb), "count", count)
        call = lambda: kmeans_clusters(embeddings, 4, 0)  # noqa: E731
    else:
        orig = S._topk
        monkeypatch.setattr(
            S, "_topk", lambda s, k: orig(s, k).withColumn("boom", boom)
        )
        call = lambda: S.srp_lsh_topk(embeddings, k=2, n_queries=2)  # noqa: E731
    with pytest.raises(Exception, match=planted):
        call()
    assert persistent() == before
    assert persisted and not [
        df for df in persisted
        if df.storageLevel.useMemory or df.storageLevel.useDisk
    ]
