"""Similarity search over an embedding column (array<float>).

  * brute_force_topk — exact cosine top-k: broadcast the (small) query
    set against the corpus, Arrow/BLAS dot products (_dot_pd), window
    rank per query. The correctness baseline.
  * cosine_near_dup_pairs — all corpus pairs with cosine >= threshold,
    as a size-guarded blocked GEMM (exact baseline; LSH is the scale
    twin).
  * ivf_topk — the scale path: coarse quantization into nlist cells
    (deterministic seed centroids, one assignment pass), queries probe
    only the nprobe nearest cells. Recall < 1 by construction; tests
    measure it against brute force.

Scale notes (100 TB): brute force is a broadcast-join scan — linear in
corpus size and embarrassingly parallel; it is the right plan whenever
the query set is small (the 1000-executor case is bounded by scan
bandwidth). IVF cuts scanned fraction to ~nprobe/nlist; cell
assignment is one narrow pass and the cell-id column becomes the
partition key so each query probes a pruned partition subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType
from pyspark.sql.window import Window

from v2_ocr_spark.operators import materialized


def _dot(a, b) -> F.Column:
    """Column-expression dot product — the readable small-scale twin of
    _dot_pd. Spark evaluates higher-order array functions INTERPRETED
    per element (repo build notes), so every hot scoring path below
    uses the Arrow/BLAS _dot_pd instead; this stays as the
    engine-portable reference formulation (and for tests that pin the
    two against each other)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@pandas_udf(DoubleType())
def _dot_pd(a, b):
    """Vectorized dot product over two array columns: the whole Arrow
    batch stacks into matrices and one einsum does every row — the
    BLAS shape the signature pass already uses, ~10-100x the
    interpreted higher-order-function evaluation at re-rank volumes."""
    import numpy as np
    import pandas as pd

    if not len(a):
        return pd.Series([], dtype="float64")
    ma = np.stack([np.asarray(v, dtype=np.float64) for v in a])
    mb = np.stack([np.asarray(v, dtype=np.float64) for v in b])
    return pd.Series(np.einsum("ij,ij->i", ma, mb), index=a.index)


@pandas_udf(ArrayType(DoubleType()))
def _unit_pd(a):
    """Vectorized L2 normalization (matrix norm + one divide per
    batch). ZERO vectors normalize to NULL, and with_unit_norm drops
    them: a zero vector has no direction, so it can never be a cosine
    neighbor. (Letting NaN through instead would be a correctness trap
    — in Spark, NaN compares GREATER than every double, so a NaN
    cosine would rank first in every top-k window and pass every
    `cosine >= threshold` filter.)"""
    import numpy as np
    import pandas as pd

    if not len(a):
        return pd.Series([], dtype=object)
    m = np.stack([np.asarray(v, dtype=np.float64) for v in a])
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        u = m / norms
    out = list(u)
    # zero AND non-finite norms (a NaN/Inf/NULL element) normalize to
    # NULL — a NaN unit vector would poison every downstream dot
    # product, and NaN ranks FIRST in Spark desc windows
    flat = norms.reshape(-1)
    for i in np.nonzero((flat == 0.0) | ~np.isfinite(flat))[0]:
        out[i] = None
    return pd.Series(out, index=a.index)


# eval-ONCE variant of _dot_pd for alias-then-filter call sites: with
# the plain deterministic UDF, Catalyst inlines the alias into the
# threshold Filter and the final AQE plan carries TWO ArrowEvalPython
# nodes for the same dot — every surviving row scored twice (the
# Filter-over-Project duplication trap with_unit_norm documents;
# observed live on semantic_near_dup_pairs_for). Marking it
# nondeterministic is a white lie that forbids the inlining; the value
# is still pure. This MUST be a SEPARATE UDF instance built from the
# raw function: asNondeterministic() mutates the UserDefinedFunction
# it is called on (the wrapper shares `_unwrapped`), so calling it on
# _dot_pd itself would permanently flip the shared deterministic UDF
# for every other operator in the process and make plans
# call-order-dependent (review-pass finding, pinned in
# tests/test_semantic_dedup.py).
_dot_pd_once = pandas_udf(_dot_pd.func, DoubleType()).asNondeterministic()


def with_unit_norm(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Pre-normalize once so cosine becomes a plain dot product.
    Zero, NULL, and NON-FINITE vectors are directionless/corrupt and
    are dropped BEFORE normalization with cheap JVM predicates —
    filtering on the UDF output would plan the Arrow eval twice (once
    under the Filter, once under the Project; measured 2x on the
    brute-force path). The finiteness check matters for correctness,
    not just hygiene: a single [NaN, ...] embedding would otherwise
    survive `exists(x != 0)` (NaN != 0 is true — NaN compares GREATER
    than every double in Spark), normalize to a NaN unit vector, and
    rank FIRST in every desc top-k window. _unit_pd's NULL-for-
    zero/non-finite fallback stays as defense in depth for direct
    callers."""
    nonzero = F.exists(F.col(col), lambda x: x != 0)
    finite = F.forall(
        F.col(col),
        lambda x: x.isNotNull()
        & ~F.isnan(x)
        & (F.abs(x) < F.lit(float("inf"))),
    )
    return df.where(nonzero & finite).withColumn(
        "unit", _unit_pd(F.col(col))
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail over a (query_id, nbr_id, cosine) scoring:
    rank per query (desc cosine, asc nbr_id tiebreak — deterministic
    and oracle-stable), keep k, round to the 6-decimal oracle
    contract. ONE place owns these invariants — the NaN-safety
    assumption (with_unit_norm makes NaN impossible upstream) and the
    tiebreak must stay in lockstep across every ANN surface. The
    result is k*n_queries rows, so the baked-in orderBy is a
    driver-scale sort, not a pair-table range exchange."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "nbr_id",
            F.round("cosine", 6).alias("cosine"),
        )
        .orderBy("query_id", "rank")
    )


def brute_force_topk(
    emb: DataFrame, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for the first n_queries vectors of
    a (vec_id, embedding) table (queries are corpus members;
    self-matches excluded)."""
    corpus = with_unit_norm(emb).select(
        F.col("vec_id").alias("nbr_id"), F.col("unit").alias("nbr_unit")
    )
    queries = with_unit_norm(emb.where(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("query_id"), F.col("unit").alias("q_unit")
    )
    scored = (
        corpus.join(F.broadcast(queries))
        .where(F.col("nbr_id") != F.col("query_id"))
        .select(
            "query_id",
            "nbr_id",
            _dot_pd(F.col("q_unit"), F.col("nbr_unit")).alias("cosine"),
        )
    )
    return _topk(scored, k)


def cosine_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.4, max_corpus: int = 50_000,
) -> DataFrame:
    """Eager: runs Spark jobs when called (corpus count guard).
    Embedding-cosine near-duplicate pairs — EXACT all-pairs, which
    is inherently O(n^2) dot products. This is the small-corpus oracle
    baseline: it REFUSES corpora above max_corpus (use the LSH-bucketed
    srp path — srp_signatures + bucket join — as the scale twin, same
    output contract at tuned recall).

    Shape: the unit matrix broadcasts to every task (max_corpus * dim
    doubles — tens of MB at the cap) and each partition multiplies its
    BLOCK against the full matrix with one BLAS matmul, emitting only
    pairs above threshold — the distributed blocked-GEMM formulation of
    all-pairs similarity, with no crossJoin row explosion and no
    interpreted per-element math."""
    import numpy as np
    import pandas as pd

    n = emb.count()
    if n > max_corpus:
        raise ValueError(
            f"cosine_near_dup_pairs is the exact all-pairs baseline "
            f"(O(n^2) dot products): corpus has {n} vectors > "
            f"max_corpus={max_corpus}. Use the LSH scale path "
            f"(similarity.srp_signatures bucket join, or ivf_topk) for "
            f"large corpora."
        )
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(
        [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    bc = emb.sparkSession.sparkContext.broadcast((ids, unit))

    def block_pairs(batches):
        all_ids, all_unit = bc.value
        for b in batches:
            if not len(b):
                continue
            bu = np.stack(
                [np.asarray(v, dtype=np.float64) for v in b["embedding"]]
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                bu = bu / np.linalg.norm(bu, axis=1, keepdims=True)
            sims = bu @ all_unit.T  # (block, n) — one BLAS call
            bids = b["vec_id"].to_numpy()
            with np.errstate(invalid="ignore"):
                # zero vectors yield NaN rows/cols; numpy NaN >= t is
                # False, so they are excluded here (same no-direction
                # policy as with_unit_norm's NULL-unit drop)
                keep = (sims >= threshold) & (
                    bids[:, None] < all_ids[None, :]
                )
            r, c = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": bids[r],
                    "id_b": all_ids[c],
                    "cosine": sims[r, c],
                }
            )

    # output order UNSPECIFIED (consumers join; the gate adds orderBy
    # at registration) — harmless at this operator's size cap, but the
    # same no-baked-sort contract as the other pair producers
    return (
        emb.select("vec_id", "embedding")
        .mapInPandas(block_pairs, schema="id_a long, id_b long, cosine double")
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def _centroids(emb_unit: DataFrame, nlist: int) -> DataFrame:
    """Deterministic coarse centroids: the nlist corpus vectors whose
    vec_id hashes lowest (a seed sample; one pass, no iteration)."""
    return (
        emb_unit.withColumn("h", F.xxhash64("vec_id"))
        .orderBy("h")
        .limit(nlist)
        .select(
            # the unpartitioned window runs AFTER limit(nlist) — it
            # numbers only nlist rows on one task (the orderBy+limit
            # itself is a distributed TakeOrdered); the WindowExec
            # single-partition warning is about these nlist rows, not
            # the corpus
            F.row_number()
            .over(Window.orderBy("h"))
            .alias("cell_id"),
            F.col("unit").alias("centroid"),
        )
    )


def ivf_assign(emb_unit: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid (broadcast argmax)."""
    scored = emb_unit.join(F.broadcast(centroids)).select(
        "vec_id",
        "unit",
        "cell_id",
        _dot_pd(F.col("unit"), F.col("centroid")).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "unit", "cell_id")
    )


def ivf_topk(
    emb: DataFrame, k: int = 5, n_queries: int = 10,
    nlist: int = 16, nprobe: int = 4,
) -> DataFrame:
    """IVF-style ANN: probe only the nprobe closest cells per query."""
    emb = with_unit_norm(emb).select("vec_id", "unit")
    cents = _centroids(emb, nlist)
    assigned = ivf_assign(emb, cents)

    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("unit").alias("q_unit")
    )
    q_cells = queries.join(F.broadcast(cents)).select(
        "query_id",
        "q_unit",
        "cell_id",
        _dot_pd(F.col("q_unit"), F.col("centroid")).alias("sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell_id"))
    probes = (
        q_cells.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= nprobe)
        .select("query_id", "q_unit", "cell_id")
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("nbr_id"),
            _dot_pd(F.col("q_unit"), F.col("unit")).alias("cosine"),
        )
    )
    return _topk(scored, k)


# ---------------------------------------------------------------------------
# SRP-LSH (random hyperplane) ANN — the LSH-bucketed scale path
# ---------------------------------------------------------------------------

def srp_signatures(
    emb_unit: DataFrame, n_tables: int = 8, n_bits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """-> (vec_id, table, bucket): sign-random-projection signatures.

    One Arrow-batched numpy pass: the whole batch's vectors multiply
    the (n_tables*n_bits, dim) plane matrix at BLAS speed, then the
    sign bits pack into one bucket id per table. Hyperplanes derive
    deterministically from (seed) and the dimensionality OBSERVED in
    the batch — every executor regenerates the identical matrix, no
    driver-side job and no dim parameter to get wrong. (Catalyst
    per-element array ops would be interpreted — same rationale as the
    minhash kernel.)
    """
    import numpy as np
    import pandas as pd

    weights = (1 << np.arange(n_bits, dtype=np.int64))

    def run(batches):
        planes = None
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["unit"]])
            if planes is None or planes.shape[1] != mat.shape[1]:
                rng = np.random.default_rng(seed)
                planes = rng.standard_normal((n_tables * n_bits, mat.shape[1]))
            bits = (mat @ planes.T) > 0  # (rows, n_tables*n_bits)
            bits = bits.reshape(len(pdf), n_tables, n_bits)
            buckets = (bits * weights).sum(axis=2)  # (rows, n_tables)
            rows = {
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_tables),
                "table": np.tile(np.arange(n_tables), len(pdf)),
                "bucket": buckets.reshape(-1),
            }
            yield pd.DataFrame(rows)

    return emb_unit.select("vec_id", "unit").mapInPandas(
        run, schema="vec_id long, table int, bucket long"
    )


def srp_lsh_topk(
    emb: DataFrame, k: int = 5, n_queries: int = 10,
    n_tables: int = 32, n_bits: int = 6,
) -> DataFrame:
    """Eager: runs Spark jobs when called (signatures, top-k).
    ANN top-k via SRP-LSH: candidates share a (table, bucket) with
    the query in ANY of the n_tables; exact cosine re-ranks candidates.

    Defaults are tuned for the ADVERSARIAL fixture (near-uniform
    vectors, top-5 cosine only ~0.3 -> per-bit collision ~0.6): t=32,
    b=6 measures 0.84 recall touching ~40% of the corpus. On real
    embedding corpora (neighbor cosine >= 0.7, per-bit ~0.75+) the same
    shape reaches high recall with far fewer tables / more bits —
    tune (n_tables, n_bits) to the corpus similarity profile.

    Scale shape: signature pass is zero-shuffle; the candidate join is
    an equi-join on (table, bucket) — at 10^12 vectors buckets spread
    uniformly (hash of sign pattern), and recall/cost tunes with
    (n_tables, n_bits) instead of data size. Exact re-rank cost is
    candidates-only, as in the minhash pipeline.
    """
    emb = with_unit_norm(emb).select("vec_id", "unit")
    # the BLAS signature pass feeds BOTH sides of the bucket join —
    # persist so the corpus is signed once (same pattern as the
    # minhash pipeline's sig.persist()); released below once the
    # (small) top-k result is materialized, so no n_tables x corpus
    # signature table outlives the call (the leak class ADVICE r3
    # flagged on the dedup path)
    sig = materialized(srp_signatures(emb, n_tables, n_bits))
    try:
        q_sig = sig.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), "table", "bucket"
        )
        cand = (
            sig.join(q_sig, ["table", "bucket"])
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("nbr_id"))
            .distinct()
        )
        queries = emb.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("unit").alias("q_unit")
        )
        corpus = emb.select(F.col("vec_id").alias("nbr_id"), "unit")
        scored = (
            cand.join(F.broadcast(queries), "query_id")
            .join(corpus, "nbr_id")
            .select(
                "query_id",
                "nbr_id",
                _dot_pd(F.col("q_unit"), F.col("unit")).alias("cosine"),
            )
        )
        # materialize the k*n_queries result, then RELEASE the signature
        # table — returning lazily would pin n_tables x corpus rows in
        # executor storage with no owner (callers never see `sig`)
        return materialized(_topk(scored, k))
    finally:
        sig.unpersist()


# ---------------------------------------------------------------------------
# Lloyd k-means + SemDeDup-style within-cluster semantic near-dup
# ---------------------------------------------------------------------------

# centroid-update coordinates are quantized to integer NANO-units
# before the per-cluster mean: a float sum across a distributed
# groupBy is partition-order-dependent (and differs run to run), so
# exact int64 sums are the only way the update — and therefore every
# downstream assignment — can be bit-reproducible on any cluster and
# twin-exact vs a pure-Python reimplementation. Quantization error is
# 1e-9 per coordinate, invisible next to the model's own noise.
_COORD_NANO = 1_000_000_000


def _mean_centroids(assigned: DataFrame) -> DataFrame:
    """Lloyd update: per-cluster coordinate means via exact int64
    sums (see _COORD_NANO), reassembled into ordered arrays. Clusters
    that lost every member simply vanish (the classic empty-cell
    shrink — deterministic, documented)."""
    coords = (
        assigned.select("cell_id", F.posexplode("unit").alias("j", "x"))
        .groupBy("cell_id", "j")
        .agg(
            F.sum(
                F.round(F.col("x") * _COORD_NANO, 0).cast("long")
            ).alias("qs"),
            F.count("*").alias("n"),
        )
        .select(
            "cell_id",
            "j",
            (F.col("qs") / (F.col("n") * F.lit(float(_COORD_NANO)))).alias(
                "c"
            ),
        )
    )
    cents = coords.groupBy("cell_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "c"))),
            lambda s: s["c"],
        ).alias("centroid")
    )
    return cents.withColumn(
        "c2", _dot_pd(F.col("centroid"), F.col("centroid"))
    )


def _assign_euclid(emb_unit: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid by squared euclidean
    distance: argmin ||x - c||^2 == argmax (x.c - ||c||^2 / 2) for
    unit x — no re-normalization step, so the whole iteration stays in
    exact/per-row-deterministic arithmetic. Tiebreak asc cell_id.

    Shape: broadcast the k-row centroid table (corpus x k scored rows
    never shuffle — max_by is a declarative aggregate, so the argmax
    collapses to ONE row per vector at the map side and the shuffle
    carries corpus-size rows, not corpus x k; the window formulation
    ivf_assign uses would shuffle all k candidates per vector)."""
    scored = emb_unit.join(F.broadcast(cents)).select(
        "vec_id",
        "unit",
        "cell_id",
        (
            _dot_pd(F.col("unit"), F.col("centroid"))
            - F.col("c2") / 2
        ).alias("score"),
    )
    return scored.groupBy("vec_id").agg(
        F.max_by(
            F.col("cell_id"),
            F.struct(
                F.col("score").alias("s"),
                (-F.col("cell_id")).alias("nc"),
            ),
        ).alias("cell_id"),
        # every candidate row of a vector carries the identical unit
        # array, so any_value is semantically deterministic here
        F.any_value("unit").alias("unit"),
    )


def kmeans_assign_for(
    emb_unit: DataFrame, k: int = 16, n_iter: int = 3
) -> DataFrame:
    """Eager: runs Spark jobs when called (k-means loop, result).
    -> (vec_id, unit, cell_id): Lloyd k-means over unit-normalized
    embeddings — deterministic hash-order seeds (the ivf _centroids
    pick), exactly n_iter integer-exact mean updates (_COORD_NANO),
    assignment against the FINAL centroids. Fixed iteration count (not
    convergence-tested) keeps the op deterministic and twin-checkable;
    SemDeDup-style pipelines run a handful of iterations anyway —
    cluster quality only has to be good enough to bound the
    within-cluster pair scan.

    Scale shape: per iteration, one broadcast of k centroid rows, one
    map-side-collapsing argmax agg (see _assign_euclid), one
    (cell_id, j) count shuffle for the update — all corpus-linear, no
    corpus-scale broadcast/collect. Centroid tables are
    localCheckpoint(eager)ed per iteration: the duplicate_clusters
    lesson — persist never cuts lineage, and an O(n_iter)-deep plan
    re-renders the whole chain per job. The input is persisted for the
    loop and released before returning; the RESULT is persisted and
    materialized — the CALLER owns unpersisting it (the
    duplicate_clusters ownership convention).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    emb = materialized(emb_unit.select("vec_id", "unit"))
    try:
        cents = (
            _centroids(emb, k)
            .withColumn("c2", _dot_pd(F.col("centroid"), F.col("centroid")))
            .localCheckpoint(eager=True)
        )
        for _ in range(n_iter):
            cents = _mean_centroids(
                _assign_euclid(emb, cents)
            ).localCheckpoint(eager=True)
        return materialized(_assign_euclid(emb, cents))
    finally:
        # also on failure mid-loop — a corpus-scale persist must never
        # outlive the call without an owner (the compose cleanup
        # convention)
        emb.unpersist()


def kmeans_clusters(
    emb: DataFrame, k: int = 16, n_iter: int = 3
) -> DataFrame:
    """Eager: runs Spark jobs when called (persisted assignment).
    -> (vec_id, cluster_id): corpus embedding clustering — the
    grouping stage of semantic dedup / topic bucketing. See
    kmeans_assign_for. The RETURNED DataFrame is the persisted one
    (caller owns release) — the unit-vector-bearing assignment it
    projects from is released here, since unpersist() on a derived
    projection would be a silent no-op for the caller."""
    assigned = kmeans_assign_for(
        with_unit_norm(emb).select("vec_id", "unit"),
        k,
        n_iter,
    )
    try:
        return materialized(
            assigned.select("vec_id", F.col("cell_id").alias("cluster_id"))
        )
    finally:
        assigned.unpersist()


def semantic_near_dup_pairs_for(
    emb_unit: DataFrame,
    k: int = 16,
    n_iter: int = 3,
    threshold: float = 0.9,
    max_cluster: int = 50_000,
) -> DataFrame:
    """Eager: runs Spark jobs when called (k-means, pair set).
    -> (id_a, id_b, cluster_id, cosine): SemDeDup-style semantic
    near-duplicate pairs over unit-normalized embeddings
    (with_unit_norm(emb).select("vec_id", "unit")) — cluster the
    embedding space with k-means, then find cosine near-duplicates
    ONLY within each cluster. The k-means stage turns the O(n^2)
    all-pairs scan into sum-of-cluster-size-squared work: with k
    chosen so clusters stay ~n/k, that is n^2/k — the published recipe
    for semantic dedup at web scale (exact all-pairs is
    cosine_near_dup_pairs, capped at 50k; LSH-recall pairs are the srp
    path; THIS path trades bounded recall loss at cluster borders for
    an exact scan inside each cluster).

    Contracts (pure-Python twin in tests/test_semantic_dedup.py — the
    gate sits at its 50-entry cap, so this op is pytest-twinned like
    decontaminate / scrub_boilerplate / lm_logloss):
      * pairs are (id_a < id_b), cosine rounded to 6, threshold
        applied BEFORE rounding; threshold <= 0 is rejected (every
        pair "matches" — the minhash/ngram convention).
      * zero/non-finite vectors are dropped at normalization
        (with_unit_norm), so NaN cosines are impossible by
        construction.
      * clusters larger than max_cluster raise (the cosine_near_dup
        size-guard convention) — an oversized cluster means k is too
        small for the corpus, and silently scanning it would be the
        hidden O(n^2) this operator exists to avoid.
      * output order UNSPECIFIED (consumers sort/join).

    Scale shape: one equi-join on cell_id between two references of
    the PERSISTED assignment (no re-clustering, no cartesian — the
    join condition id_a < id_b prunes the diagonal), BLAS pandas-UDF
    dots on the surviving pairs only. The assignment persist is
    released after the pair set materializes; the returned pair set is
    persisted — callers own unpersisting it."""
    if threshold <= 0:
        raise ValueError(
            f"threshold must be > 0, got {threshold} (at <= 0 every "
            f"pair is a near-duplicate)"
        )
    assigned = kmeans_assign_for(emb_unit, k, n_iter)
    try:
        return _cluster_pairs(assigned, threshold, max_cluster)
    finally:
        # also on failure (guard collect, pair materialization) — the
        # corpus-scale assignment persist must never outlive the call
        assigned.unpersist()


def _cluster_pairs(
    assigned: DataFrame, threshold: float, max_cluster: int
) -> DataFrame:
    over = (
        assigned.groupBy("cell_id")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > max_cluster)
        .limit(1)
        .collect()
    )
    if over:
        raise ValueError(
            f"semantic_near_dup: cluster {over[0]['cell_id']} has "
            f"{over[0]['n']} members > max_cluster={max_cluster}; "
            f"raise k (more, smaller clusters) or use the LSH scale "
            f"path (srp_signatures bucket join)."
        )
    a = assigned.select(
        F.col("vec_id").alias("id_a"),
        F.col("unit").alias("unit_a"),
        "cell_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("unit").alias("unit_b"),
        "cell_id",
    )
    pairs = (
        a.join(b, "cell_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.col("cell_id").alias("cluster_id"),
            _dot_pd_once(F.col("unit_a"), F.col("unit_b")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .select(
            "id_a", "id_b", "cluster_id", F.round("cosine", 6).alias("cosine")
        )
    )
    return materialized(pairs)
