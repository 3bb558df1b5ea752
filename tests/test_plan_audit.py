"""Physical-plan audits — the shapes that keep 100 TB viable, pinned.

Each assertion encodes a scale invariant from README "Design for 100 TB":
zero-shuffle extraction, pruned scans, pushed filters, broadcast dims,
partial (map-side) aggregation, and no Python in JVM-only paths. A
regression here is a performance bug even when results stay correct.
"""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

import __spark_entry__ as entry_mod
from v2_ocr_spark.operators import relational, textstats
from v2_ocr_spark.operators.extract import extract_turns


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tdir(sf_small):
    return entry_mod._data_dir(sf_small)


def test_extract_is_single_python_stage_zero_shuffle(spark, tdir):
    p = plan(extract_turns(spark.read.parquet(f"{tdir}/transcripts.parquet")))
    assert p.count("MapInArrow") == 1
    assert "MapInPandas" not in p
    assert "Exchange" not in p  # embarrassingly parallel: no shuffle
    # scan pruned to exactly the dispatch+payload columns — ts unread
    assert "ReadSchema: struct<conv_id:string,turn_idx:int,role:string,text:string,tool:string>" in p


def test_relational_scan_prunes_and_pushes(spark, transcripts):
    p = plan(relational.results_scan(transcripts))
    assert "PushedFilters: [" in p and "conv_id" in p.split("PushedFilters")[1][:120]
    # equality predicate reaches the parquet reader, not a post-filter only
    assert "EqualTo(conv_id" in p


def test_dim_join_broadcasts(spark, transcripts, conversations):
    p = plan(relational.semi_join_completed(transcripts, conversations))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_aggregations_are_partial_first(spark, conversations):
    p = plan(relational.status_counts(conversations))
    assert "partial_count" in p  # map-side combine before the exchange


def test_assembly_partial_aggregates(spark, tdir):
    from v2_ocr_spark.operators.assemble import assemble

    out = extract_turns(spark.read.parquet(f"{tdir}/transcripts.parquet"))
    p = plan(assemble(out, chunk_size=256))
    # two-phase chunked merge: chunk-level partial collect then final
    assert p.count("ObjectHashAggregate") >= 2
    assert "partial_collect_list" in p or "partial_sort_array" in p


def test_jvm_only_paths_have_no_python(spark, documents, transcripts):
    for q in (
        textstats.quality_score_for(documents, ["doc_id"]),
        textstats.token_counts_for(documents, ["doc_id"]),
        relational.fulltext_search(transcripts),
    ):
        p = plan(q)
        assert "BatchEvalPython" not in p
        assert "ArrowEvalPython" not in p
        assert "MapInPandas" not in p
        assert "MapInArrow" not in p


def test_events_window_partitions_by_user(spark, events):
    p = plan(relational.sessionize(events))
    # the window must partition by user_id — a global window would
    # single-task 10^12 rows
    assert "hashpartitioning(user_id" in p


def test_writer_sorts_within_partitions(spark, sf_small, tmp_path):
    """W1 at rest: every file ExtractionJob.run() leaves in the sink is
    one row group sorted by (conv_id, turn_idx), with no pid column (pid
    lives in the directory name only). The input is shuffled first, so
    the order comes from the writer's sort, not from the fixture's."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    from v2_ocr_spark.pipeline.runner import ExtractionJob

    src = pq.read_table(f"{sf_small}/transcripts.parquet")
    shuffled = str(tmp_path / "shuffled.parquet")
    pq.write_table(
        src.take(np.random.default_rng(7).permutation(src.num_rows)),
        shuffled,
    )
    out = str(tmp_path / "sorted")
    ExtractionJob(spark, shuffled, out, num_partitions=4).run()
    files = glob.glob(f"{out}/data/pid=*/part-*.parquet")
    assert len(files) >= 4
    for f in files:
        pf = pq.ParquetFile(f)
        assert pf.metadata.num_row_groups == 1
        t = pf.read()
        assert "pid" not in t.column_names
        keys = list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
        assert keys == sorted(keys)


def test_ngram_jaccard_plan_has_no_cartesian(spark, documents):
    """The exact-Jaccard rework must stay an inverted-index equi-join:
    no CartesianProduct / BroadcastNestedLoopJoin anywhere (the round-1
    formulation was an O(n^2) crossJoin)."""
    from v2_ocr_spark.operators import dedup

    p = plan(dedup.ngram_jaccard_pairs_for(documents))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pair_producers_bake_in_no_sort(
    spark, documents, embeddings, testdata_small
):
    """Pair-set output order is UNSPECIFIED: consumers (the composed
    pipeline's duplicate_clusters, keeper selection) JOIN the pairs, so
    a baked-in orderBy would pay a whole-pair-table range exchange on
    every pipeline run for an ordering only the gate oracle needs (the
    gate adds it at registration instead — the corpus_filter precedent
    from round 3, extended to ngram/cosine pairs in round 4, then to
    the minhash pair set and the cluster label table late in round 4;
    for the persisted producers the cached plan prints inside the
    InMemoryRelation block, so the assertion still sees a baked-in
    sort)."""
    from v2_ocr_spark.operators import dedup, similarity

    sf = testdata_small
    for df in (
        dedup.ngram_jaccard_pairs_for(documents),
        similarity.cosine_near_dup_pairs(embeddings),
        entry_mod._doc_pairs(spark, sf, documents),
        entry_mod._doc_clusters(spark, sf, documents),
    ):
        # no global-sort exchange; (local sorts inside a sort-merge
        # join are hashpartitioning-based and fine)
        assert "rangepartitioning" not in plan(df)


def test_distinct_kmv_plan_has_partial_group_limit(spark, events):
    """The KMV bottom-k must stay the one-shuffle two-phase shape:
    Catalyst rewrites row_number() <= k into Partial + Final
    WindowGroupLimit around the window exchange, so each map partition
    ships at most k rows per group — the property that makes the
    sketch safe on a skewed group at 10^12 rows. A regression (e.g.
    an expression change that defeats the rewrite) would silently
    revert to shuffling every distinct user into one sort group."""
    from v2_ocr_spark.operators import relational

    p = plan(relational.distinct_kmv_for(events))
    assert "WindowGroupLimit" in p
    assert "Partial" in p and "Final" in p


def test_pipeline_clean_pack_plan_stays_bounded(spark):
    """The composed gate query OOMed the driver in development by
    carrying the dedup-closure lineage into the iterative clustering
    loop and both token_pack branches — the AQE plan STRING alone
    exhausted the heap. localCheckpoint stage boundaries (_conv_corpus
    pairs, clusters, decisions) truncate the lineage; this pins that
    the final plan stays small, so a regression fails here in seconds
    instead of as a heap OOM in the driver gate."""
    import __spark_entry__ as em

    df = em.q_pipeline_clean_pack(spark, "/root/testdata/sf0.001")
    p = plan(df)
    assert len(p) < 100_000, f"plan string blew up: {len(p)} chars"
    # the checkpoint boundary is visible as LogicalRDD leaf scans
    assert "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()


def test_token_pack_window_is_sub_sharded(spark, documents):
    """Packing must never serialize a source through one task: the
    cumulative sum is two-phase — deterministic quantile shards drive
    the local window (hashpartitioning on _shard), so parallelism
    follows the shard count even with ONE source (the round-2
    formulation's PARTITION BY source was one task per source)."""
    from v2_ocr_spark.operators import corpus

    # default call on the tiny fixture ADAPTIVELY collapses to the
    # plain per-source window (no _shard machinery: at this size the
    # boundary jobs cost more than one window task)
    p = plan(corpus.token_pack_for(documents))
    assert "SinglePartition" not in p
    assert "_shard" not in p

    # default call on a LARGE input (past the collapse probe) must
    # auto-shard: the local cumsum window is keyed by the shard, not
    # source alone
    big = spark.range(0, 1_100_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("a")).otherwise(F.lit("b"))
        .alias("source"),
        F.lit("tok tok").alias("text"),
    )
    pbig = plan(corpus.token_pack_for(big, budget=1000))
    assert "hashpartitioning(_shard" in pbig
    assert "SinglePartition" not in pbig

    # the guarantee the round-2 pin missed: one source, many tasks.
    # source is built non-foldable — a literal would constant-fold out
    # of the window spec and plan a (tiny, but assert-visible)
    # SinglePartition for the offsets table
    one_src = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") >= 0, F.lit("only_source"))
        .otherwise(F.lit("unreachable"))
        .alias("source"),
        F.concat(F.lit("tok "), F.col("id").cast("string")).alias("text"),
    )
    df1 = corpus.token_pack_for(one_src, budget=100, shards=8)
    p1 = plan(df1)
    assert "SinglePartition" not in p1
    assert "hashpartitioning(_shard" in p1
    assert df1.count() == 500  # no rows lost to the offsets join


def test_token_pack_shard_totals_reuse_the_window_exchange(spark, documents):
    """The sharded pack's phase-2 totals must share ONE scan+exchange
    with the phase-1 window (the totals aggregate references
    _local_start from the window output precisely so Catalyst cannot
    split the subtree and re-run the BPE regexp scan). The static plan
    shows two scan branches; AQE's stage cache dedupes them at runtime
    — pin ReusedExchange in the EXECUTED final plan."""
    from v2_ocr_spark.operators import corpus

    df = corpus.token_pack_for(documents, shards=4)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final


def test_vocabulary_topk_uses_take_ordered(spark, documents):
    """Top-k must plan as distributed TakeOrderedAndProject, not a
    global sort of the whole token-count table."""
    from v2_ocr_spark.operators import corpus

    p = plan(corpus.vocabulary_topk(documents))
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p  # map-side combine on the token counts
