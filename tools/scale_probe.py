"""Large-corpus stress probe for the dedup/ANN scale paths.

Replicates the sf0.1 documents (5k) and embeddings (2k) tables 20x
with distinct ids — every original row gains 19 exact duplicates, the
WORST case for near-dup machinery (maximal bucket collisions, maximal
candidate volume: ~5k clusters x C(20,2) = ~0.95M true pairs) — and
runs the production paths end to end:

  * minhash_lsh_pairs_for on 100k docs (signature pass, banded bucket
    join with the max_bucket guardrail, chunked pair fan-out,
    candidate-proportional exact verify)
  * duplicate_clusters on the resulting ~1M-pair graph (pointer-
    jumped min-label propagation; every 20-replica group must land in
    one cluster)
  * srp_lsh_topk on 40k vectors (BLAS signature pass, bucket
    equi-join, exact re-rank)
  * semantic_near_dup_pairs_for on 40k vectors (Lloyd k-means + within-
    cluster exact scan): identical replica vectors MUST co-cluster
    (same deterministic argmax), so every replica group's C(REPL,2)
    cosine-1.0 pairs must be found — recall of the within-cluster
    strategy is total on exact duplicates by construction

Prints one JSON line; results are recorded in BASELINE.md. This is a
probe, not a per-round bench — run it manually after touching the
dedup/similarity scale paths:  python tools/scale_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Spark's Python workers import the package too: give them this tree
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (REPO, os.environ.get("PYTHONPATH"))))

REPL = int(os.environ.get("SCALE_PROBE_REPL", "20"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = os.environ.get("SCALE_PROBE_DIR", "/tmp/v2ocr_scale_probe")


def main() -> None:
    import pyspark.sql.functions as F

    from v2_ocr_spark.operators import dedup, similarity
    from v2_ocr_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    os.makedirs(WORK, exist_ok=True)

    # ---- build the replicated corpus (ids offset per replica) ----
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    reps = spark.range(REPL).select(F.col("id").alias("rep"))
    big_docs = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    big_docs.write.mode("overwrite").parquet(f"{WORK}/documents.parquet")

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_emb = emb.count()
    big_emb = emb.crossJoin(reps).select(
        (F.col("vec_id") + F.col("rep") * F.lit(10_000_000)).alias("vec_id"),
        "embedding", "label",
    )
    big_emb.write.mode("overwrite").parquet(f"{WORK}/embeddings.parquet")

    # ---- dedup stress: every doc has REPL-1 exact duplicates ----
    big_docs = spark.read.parquet(f"{WORK}/documents.parquet")
    big_emb = spark.read.parquet(f"{WORK}/embeddings.parquet")
    t0 = time.perf_counter()
    pairs = dedup.minhash_lsh_pairs_for(big_docs)
    n_pairs = pairs.count()
    t_dedup = time.perf_counter() - t0
    # sanity: at least the exact-duplicate pairs must be found
    # (groups of REPL identical docs -> C(REPL,2) pairs each, minus
    # any group dropped by the degenerate-bucket guardrail)
    expected_min = int(0.9 * n_docs * REPL * (REPL - 1) / 2)

    # ---- clustering stress: transitive closure over the ~1M pairs ----
    t0 = time.perf_counter()
    clusters = dedup.duplicate_clusters(pairs)
    n_nodes = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    # every 20-replica group is all-pairs similar, so its members must
    # share one label (near-dup edges may merge groups, never split)
    groups_split = (
        clusters.withColumn("orig", F.col("doc_id") % F.lit(10_000_000))
        .groupBy("orig")
        .agg(F.countDistinct("cluster_id").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    t_clusters = time.perf_counter() - t0
    clusters.unpersist()  # the caller owns the label table
    pairs.unpersist()

    # ---- ANN stress: replicated vectors, exact-duplicate neighbors ----
    t0 = time.perf_counter()
    topk = similarity.srp_lsh_topk(big_emb, k=5, n_queries=10)
    n_topk = topk.count()
    t_ann = time.perf_counter() - t0

    # ---- semantic dedup stress: identical replicas must co-cluster ----
    # surviving units among the ORIGINALS (with_unit_norm drops
    # zero/non-finite vectors before clustering; replicas of a dropped
    # vector are dropped too, so originals x REPL is exact)
    n_units = similarity.with_unit_norm(emb).count()
    t0 = time.perf_counter()
    sem = similarity.semantic_near_dup_pairs_for(
        similarity.with_unit_norm(big_emb).select("vec_id", "unit"),
        k=64, n_iter=2, threshold=0.999,
    )
    n_sem = sem.count()
    # every replica group is identical vectors -> same deterministic
    # argmax cell -> all C(REPL,2) pairs at cosine 1.0 are in-cluster.
    # Recall on exact duplicates is therefore total BY CONSTRUCTION,
    # and with isotropic originals (max distinct-pair cosine ~0.48)
    # no other pair clears 0.999 — the count should match exactly.
    sem_expected = n_units * REPL * (REPL - 1) // 2
    t_sem = time.perf_counter() - t0
    sem.unpersist()

    print(json.dumps({
        "metric": "scale_probe",
        "replication": REPL,
        "n_docs": n_docs * REPL,
        "dedup_pairs": n_pairs,
        "dedup_pairs_expected_min": expected_min,
        "dedup_recall_ok": n_pairs >= expected_min,
        "dedup_sec": round(t_dedup, 1),
        "cluster_nodes": n_nodes,
        "n_clusters": n_clusters,
        "cluster_groups_split": groups_split,
        "clusters_ok": groups_split == 0,
        "clusters_sec": round(t_clusters, 1),
        "n_vectors": n_emb * REPL,
        "ann_rows": n_topk,
        "ann_sec": round(t_ann, 1),
        "semantic_pairs": n_sem,
        "semantic_pairs_expected": sem_expected,
        "semantic_recall_total": n_sem >= sem_expected,
        "semantic_exact": n_sem == sem_expected,
        "semantic_sec": round(t_sem, 1),
    }))
    # assert the invariants, not just report them — a regression must
    # fail the probe's exit code, not only flip a JSON field
    assert n_pairs >= expected_min, (n_pairs, expected_min)
    assert groups_split == 0, groups_split
    assert n_topk == 50, n_topk
    # exact, not just >=: spurious pairs (precision regression,
    # pair-order duplicates) must fail the probe like missed ones
    assert n_sem == sem_expected, (n_sem, sem_expected)
    spark.stop()


if __name__ == "__main__":
    main()
