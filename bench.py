"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "turns_per_sec_extraction", "value": N, "unit": "sec"-keyed
   query times, "queries": {...}, "sf": ...}

The headline metric is extraction throughput (turns/sec) — the
BASELINE.md target. Query timings are end-to-end (plan + execute +
materialize counts), after one warm-up pass of the JVM/Arrow path.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _sf(sf_dir: str) -> float:
    name = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def main() -> None:
    import pyspark.sql.functions as F

    import __spark_entry__ as entry_mod
    from v2_ocr_spark.operators import dedup, similarity, textstats
    from v2_ocr_spark.operators.assemble import assemble
    from v2_ocr_spark.operators.extract import extract_turns
    from v2_ocr_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS))
    data_dir = entry_mod._data_dir(SF_DIR)
    transcripts_path = f"{data_dir}/transcripts.parquet"

    # warm-up: JVM, codegen, Arrow channel
    warm = spark.read.parquet(transcripts_path).limit(2000)
    extract_turns(warm).count()

    timings: dict[str, float] = {}

    def timed(name, fn, runs=2):
        # best-of-N: first runs pay codegen compilation + file-index
        # + page-cache costs that a long-lived cluster job amortizes
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 4)

    # scan parallelism comes from byte-range splits at row-group
    # boundaries (session.py sizes maxPartitionBytes for local mode) —
    # no shuffle, matching how a 100 TB scan parallelizes naturally
    transcripts = spark.read.parquet(transcripts_path).persist()
    n_turns = transcripts.count()  # materializes the cache: the
    # headline measures extraction compute, not cold-disk variance
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    # headline: full extraction pass (count forces materialization of
    # every cleaned turn + spans)
    timed(
        "extract_all",
        lambda: extract_turns(transcripts)
        .agg(F.sum(F.length("extracted_text")), F.sum(F.size("spans")))
        .collect(),
        runs=3,
    )
    timed(
        "assemble_documents",
        lambda: assemble(extract_turns(transcripts), chunk_size=1024)
        .agg(F.sum(F.length("document_text")))
        .collect(),
    )
    def _lsh():
        # the operator never memoizes: every run pays the full
        # signature+bucket+verify cascade
        pairs = dedup.minhash_lsh_pairs_for(docs)
        pairs.count()
        pairs.unpersist()  # the caller owns the persisted pair set

    # best-of-2 COLD passes: this is the longest and
    # noisiest single query, and a one-sample reading has repeatedly
    # misread co-tenant interference as a 2x regression (BASELINE.md)
    timed("dedup_minhash_lsh", _lsh, runs=2)
    timed(
        "ann_brute_force_topk",
        lambda: similarity.brute_force_topk(emb).count(),
    )
    timed(
        "ann_srp_lsh_topk",
        lambda: similarity.srp_lsh_topk(emb).count(),
    )

    def _dom():
        from v2_ocr_spark.operators.dom import (
            classify_nodes, flatten_dom, reassemble_content,
        )

        reassemble_content(classify_nodes(flatten_dom(transcripts))).agg(
            F.sum(F.length("extracted_text"))
        ).collect()

    timed("dom_flatten_classify_reassemble", _dom)
    timed("quality_score",
          lambda: textstats.quality_score_for(docs, ["doc_id"])
          .agg(F.sum("quality")).collect())

    from v2_ocr_spark.operators import corpus

    timed("vocabulary_topk",
          lambda: corpus.vocabulary_topk(docs).count())
    timed("token_pack",
          lambda: corpus.token_pack_for(docs)
          .agg(F.max("bin"), F.sum("n_tokens")).collect())
    timed("token_counts",
          lambda: textstats.token_counts_for(docs, ["doc_id"])
          .agg(F.sum("bpe_tokens")).collect())
    timed("lm_logloss",
          lambda: corpus.lm_logloss_for(docs)
          .agg(F.sum("n_tokens"), F.max("bits_per_token")).collect())
    timed("dup_span_removal",
          lambda: corpus.remove_dup_spans_for(docs)
          .agg(F.sum("dup_tokens"), F.sum(F.length("kept_text")))
          .collect())
    timed("scrub_boilerplate",
          lambda: corpus.scrub_boilerplate_for(docs)
          .agg(F.sum("kept_lines"), F.sum(F.length("scrubbed_text")))
          .collect())

    def _semantic():
        # returns a persisted pair set (caller-owns-release contract)
        unit = similarity.with_unit_norm(emb).select("vec_id", "unit")
        pairs = similarity.semantic_near_dup_pairs_for(
            unit, k=32, n_iter=3, threshold=0.4
        )
        pairs.count()
        pairs.unpersist()

    timed("semantic_near_dup", _semantic)
    timed(
        "fulltext_search",
        lambda: transcripts.where(F.lower(F.col("text")).contains("fox")).count(),
    )
    timed(
        "status_agg",
        lambda: spark.read.parquet(f"{data_dir}/conversations.parquet")
        .groupBy("status").count().collect(),
    )

    turns_per_sec = round(n_turns / timings["extract_all"], 2)
    print(
        json.dumps(
            {
                "metric": "turns_per_sec_extraction",
                "value": turns_per_sec,
                # the headline value is a THROUGHPUT; the sec-keyed
                # per-query timings live under "queries"
                "unit": "turns/sec",
                "queries": timings,
                "sf": _sf(SF_DIR),
                "n_turns": n_turns,
                "cpus": int(CPUS),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
