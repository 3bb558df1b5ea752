"""Construction-job ratchet: building a gate entry — no action — may
launch at most the Spark jobs in MAX_JOBS.

Every entry builds in gate order in the shared session, each under its
own job group. A table read is one schema-inference job, so each combo
row equals the number of distinct tables the combo reads; the memoized
entries (extraction, document pairs and clusters, the conversation
corpus) pay their build where gate order first needs it. Lower a row
when a change removes jobs; never raise one to make a change pass.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod

# measured at sf0.001, gate order, in a fresh local[4] session
MAX_JOBS = {
    "extract_all_turns": 4,
    "extract_markdown": 1,
    "extract_html": 1,
    "extract_pdf_layout": 1,
    "dom_node_stats": 1,
    "dom_reassemble": 1,
    "extract_spans": 0,
    "assemble_documents": 0,
    "span_explode": 0,
    "conversation_dedup": 0,
    "export_documents": 1,
    "dedup_exact": 1,
    "dedup_ngram_jaccard": 1,
    "cross_source_overlap": 1,
    "dedup_simhash": 1,
    "dedup_minhash_lsh": 15,
    "dedup_clusters": 32,
    "dedup_keep_list": 1,
    "corpus_filter": 1,
    "corpus_filter_stats": 1,
    "conversation_near_dup": 13,
    # 18 or 19 from run to run (both observed): the label
    # propagation's job count is not fixed, so the row takes the max
    "pipeline_clean_pack": 19,
    "ann_brute_force_topk": 1,
    "ann_ivf_topk": 1,
    "ann_srp_lsh_topk": 14,
    "cosine_near_dup": 4,
    "vocabulary_topk": 1,
    "token_pack": 3,
    "doc_features": 1,
    "rolling_fingerprint": 1,
    "multimodal_image_meta": 1,
    "multimodal_frame_sample": 1,
    "multimodal_audio_chunks": 1,
    "multimodal_image_dhash": 1,
    "multimodal_image_near_dup": 1,
    "turn_text_features": 1,
    "doc_text_features": 1,
    "conv_views": 2,
    "scalar_stats": 2,
    "queue_views": 1,
    "sort_views": 1,
    "filter_views": 1,
    "turn_flags": 1,
    "group_rollups": 2,
    "events_views": 1,
    "results_scan": 1,
    "semi_join_completed": 2,
    "approx_distinct_users": 1,
    "distinct_kmv": 1,
    "sample_stratified": 1,
}


def test_gate_entries_build_within_their_job_budget(spark, testdata_small):
    sc = spark.sparkContext
    queries = entry_mod.queries()
    assert list(queries) == list(MAX_JOBS)
    got = {}
    try:
        for name, build in queries.items():
            group = f"construct-{name}"
            sc.setJobGroup(group, name)
            build(spark, testdata_small)
            got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    over = {n: (got[n], MAX_JOBS[n]) for n in got if got[n] > MAX_JOBS[n]}
    assert not over, over
