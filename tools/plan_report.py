"""Write PLANS.md: formatted physical plans of the headline operators,
with the scale-relevant properties called out. Regenerate after plan
changes: python tools/plan_report.py"""

from __future__ import annotations

import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Spark's Python workers import the package too: give them this tree
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (REPO, os.environ.get("PYTHONPATH"))))


def fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    from v2_ocr_spark.fixtures.oracle_expected import TESTDATA_SF
    from v2_ocr_spark.session import get_spark
    from v2_ocr_spark.operators.extract import extract_turns
    from v2_ocr_spark.operators.assemble import assemble
    from v2_ocr_spark.operators import corpus, dedup, relational
    from v2_ocr_spark.operators.dom import (
        classify_nodes, flatten_dom, reassemble_content,
    )
    import __spark_entry__ as e

    spark = get_spark(master="local[8]")
    sf = os.path.join(os.path.dirname(TESTDATA_SF), "sf0.001")
    d = e._data_dir(sf)
    t = spark.read.parquet(f"{d}/transcripts.parquet")
    c = spark.read.parquet(f"{d}/conversations.parquet")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    events = spark.read.parquet(f"{sf}/events.parquet")

    sections = [
        (
            "extract_turns — the per-turn hot path",
            "zero Exchange (embarrassingly parallel); ONE MapInArrow; "
            "scan pruned to the 5 dispatch/payload columns (no ts)",
            extract_turns(t),
        ),
        (
            "assemble (chunked) — two-phase skew merge",
            "two ObjectHashAggregate pairs (partial+final per phase); "
            "phase-1 keys salted with the turn-derived chunk id",
            assemble(extract_turns(t), chunk_size=256),
        ),
        (
            "dom flatten+classify+reassemble — relational HTML route",
            "one Python stage (the parse); classification in "
            "WholeStageCodegen; per-turn shuffle keys (no conv skew)",
            reassemble_content(classify_nodes(flatten_dom(t))),
        ),
        (
            "semi_join_completed — dim join",
            "BroadcastHashJoin (no SortMergeJoin); pushed IsNotNull",
            relational.semi_join_completed(t, c),
        ),
        (
            "minhash LSH candidates — banded bucket pairs",
            "one shuffle to bucket lists (size-capped collect_list), "
            "pair fan-out in an Arrow batch, distinct",
            dedup.lsh_candidate_pairs(
                dedup.minhash_signatures(docs.select("doc_id", "text"))
            ),
        ),
        (
            "ngram_jaccard_pairs_for — exact Jaccard via shingle inverted index",
            "no CartesianProduct anywhere: explode distinct shingles, "
            "equi-join on the shingle (SortMergeJoin on high-cardinality "
            "key), co-occurrence count = |A∩B|, broadcast per-doc counts; "
            "r4: no baked-in sort — output order unspecified, the gate "
            "sorts at registration (no rangepartitioning Exchange)",
            dedup.ngram_jaccard_pairs_for(docs),
        ),
        (
            "token_pack (sharded) — two-phase distributed prefix sum",
            "the 100 TB shape (shards=4 forced; default calls "
            "adaptively collapse to a single per-source window under "
            "~1M rows): phase-1 cumsum windows keyed by (_shard, "
            "source) — parallelism = shards regardless of source "
            "cardinality; phase-2 shard totals (<= shards x sources "
            "rows) broadcast-joined back. The STATIC plan below shows "
            "two scan branches; at runtime AQE's stage cache replaces "
            "the totals branch's scan+exchange with a ReusedExchange "
            "(pinned by test_token_pack_shard_totals_reuse_the_window_"
            "exchange), so the BPE regexp_count projection is scanned "
            "ONCE — the totals aggregate references the window output "
            "precisely to keep both branches on one subtree",
            corpus.token_pack_for(docs, shards=4),
        ),
        # corpus_filter is NOT plan-dumped: its keeper-list input is the
        # label-propagation loop's accumulated join lineage (a formatted
        # plan of several MB); the component plans above and the plan
        # audits cover its shape
        (
            "vocabulary_topk — corpus token frequencies",
            "partial_count before the exchange (map-side combine), "
            "distributed TakeOrderedAndProject — no global sort",
            corpus.vocabulary_topk(docs),
        ),
        (
            "distinct_kmv — deterministic bottom-k distinct sketch",
            "Catalyst rewrites row_number() <= k into Partial + Final "
            "WindowGroupLimit around the ONE window exchange: each map "
            "partition ships at most k rows per group, so a skewed "
            "event type never lands whole on one sort task (r5; "
            "plan-pinned — a hand-rolled salt pre-pass measured as a "
            "strictly worse 3-exchange plan)",
            relational.distinct_kmv_for(events),
        ),
        (
            "dup_spans — duplicate-substring spans (r5)",
            "ONE k-lead shingle WindowExec (doc_id-partitioned), ONE "
            "shingle-partitioned count window for duplicate starts (a "
            "groupBy+semi-join formulation evaluates the shingle "
            "subtree twice — non-canonical exchanges, no "
            "ReuseExchange), then the lag gaps-and-islands merge back "
            "in the doc_id window family; no cartesian, no Python",
            corpus.dup_spans_for(docs),
        ),
        (
            "lm_logloss — unigram-LM perplexity filter (r5)",
            "per-token surprise quantized to int64 micro-bits so the "
            "per-doc sum is exact integer arithmetic (order-"
            "independent, oracle-exact); model scalars (N, V) enter "
            "as a broadcast one-row join (BroadcastNestedLoopJoin of "
            "1 row, no collect); token join is a plain equi-join AQE "
            "can broadcast when the vocab is small",
            corpus.lm_logloss_for(docs),
        ),
        (
            "scrub_boilerplate — inter-document boilerplate lines (r5)",
            "the Zipf-head DROP set broadcasts into a left-anti join "
            "(never the corpus-scale keep side — the dedup bucket-set "
            "inversion); one doc_id shuffle for the ordered "
            "sort_array reassembly",
            corpus.scrub_boilerplate_for(docs),
        ),
    ]

    out = io.StringIO()
    out.write(
        "# PLANS — formatted physical plans of the headline operators\n\n"
        "Generated by tools/plan_report.py; invariants are enforced by\n"
        "tests/test_plan_audit.py. Read `==` markers: WholeStageCodegen\n"
        "spans, Exchange = shuffle, PushedFilters/ReadSchema on scans.\n"
    )
    for title, why, df in sections:
        out.write(f"\n## {title}\n\n{why}\n\n```\n")
        out.write(fmt_plan(df).strip())
        out.write("\n```\n")
    with open(f"{REPO}/PLANS.md", "w", encoding="utf-8") as f:
        f.write(out.getvalue())
    print("wrote PLANS.md", len(out.getvalue()), "bytes")
    spark.stop()


if __name__ == "__main__":
    main()
