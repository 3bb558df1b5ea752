"""The composed flagship pipeline: extraction -> assembly -> corpus
cleaning -> packing in one job (pipeline/compose.py), plus the
string-id sharding path token_pack_for grows for it."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from v2_ocr_spark.operators import corpus
from v2_ocr_spark.pipeline import compose
from v2_ocr_spark.pipeline.compose import run_extract_clean_pipeline

NP = 8


@pytest.fixture(scope="module")
def small_transcripts(spark, sf_small, tmp_path_factory) -> str:
    """A ~40-conversation slice of the transcripts fixture — the
    composed job runs twice in the e2e test, so the input stays small
    enough to keep both runs in test-suite budget."""
    path = str(tmp_path_factory.mktemp("compose") / "transcripts.parquet")
    df = spark.read.parquet(f"{sf_small}/transcripts.parquet")
    keep = (
        df.select("conv_id").distinct().orderBy("conv_id").limit(40)
    )
    df.join(keep, "conv_id").write.parquet(path)
    return path


def test_run_extract_clean_pipeline_end_to_end(
    spark, small_transcripts, tmp_path
):
    out = str(tmp_path / "composed")
    summary = run_extract_clean_pipeline(
        spark, small_transcripts, out, num_partitions=NP, budget=500
    )

    # extraction lineage covers the whole input
    ext = summary["extraction"]
    src = spark.read.parquet(small_transcripts)
    assert ext["status"] == "ok"
    assert ext["committed_this_run"] == ext["partitions"] == NP
    assert ext["turns_seen"] == src.count()
    assert ext["chars_out"] > 0

    # the cleaning outcomes partition the conversation universe
    n_convs = src.select("conv_id").distinct().count()
    assert sum(v["n_docs"] for v in summary["outcomes"].values()) == n_convs

    # clean/ holds exactly the kept conversations; packing covers them
    clean = spark.read.parquet(f"{out}/clean")
    assert clean.count() == summary["kept_docs"] > 0
    assert {"doc_id", "text", "source", "pred_lang", "quality"} <= set(
        clean.columns
    )
    packed = spark.read.parquet(f"{out}/packed")
    assert packed.count() == summary["kept_docs"]
    assert (
        packed.select("source", "bin").distinct().count()
        == summary["kept_bins"]
    )
    # dense exclusive prefix over the survivors, per source
    pdfp = packed.toPandas()
    for _, g in pdfp.groupby("source"):
        run = 0
        for _, r in g.sort_values("doc_id").iterrows():
            assert r.start_token == run
            assert r.bin == run // 500
            run += r.n_tokens

    # ONE summary artifact covers both stages, on disk too
    disk = json.load(open(f"{out}/summary.json"))
    assert disk == summary
    assert {"outcomes", "kept_docs", "kept_bins", "extraction"} <= set(disk)

    # re-run: extraction resumes as up-to-date (no re-extraction), the
    # cleaning tail recomputes to the identical decisions
    again = run_extract_clean_pipeline(
        spark, small_transcripts, out, num_partitions=NP, budget=500
    )
    assert again["extraction"]["status"] == "up-to-date"
    assert again["extraction"]["committed_this_run"] == 0
    assert again["outcomes"] == summary["outcomes"]
    assert again["kept_bins"] == summary["kept_bins"]


def test_crashed_rerun_leaves_no_stale_summary(
    spark, small_transcripts, tmp_path, monkeypatch
):
    """A re-run that dies in its cleaning tail, before its new summary,
    must not leave the previous run's summary.json beside the tables it
    has rewritten: the stale summary is removed before the first
    write."""
    out = str(tmp_path / "composed")
    run_extract_clean_pipeline(
        spark, small_transcripts, out, num_partitions=NP, budget=500
    )
    assert os.path.exists(f"{out}/summary.json")

    def crash(*args, **kwargs):
        raise RuntimeError("packing crashed")

    monkeypatch.setattr(compose, "token_pack_for", crash)
    with pytest.raises(RuntimeError, match="packing crashed"):
        run_extract_clean_pipeline(
            spark, small_transcripts, out, num_partitions=NP, budget=500
        )
    assert os.path.exists(f"{out}/clean")
    assert not os.path.exists(f"{out}/summary.json")


def test_clean_and_pack_plan_bounded_and_releases_labels(
    spark, small_transcripts, monkeypatch
):
    """The shared cleaning tail on the composed job's own input shape
    (unnormalized assembled text, ngram pairs at 0.5): with no parquet
    re-read, the checkpointed decisions keep the pack plan bounded, and
    a failing filter stage releases every persist the call made, the
    cluster labels included."""
    from v2_ocr_spark.operators.assemble import assemble
    from v2_ocr_spark.operators.dedup import ngram_jaccard_pairs_for
    from v2_ocr_spark.operators.extract import extract_turns

    turns = extract_turns(spark.read.parquet(small_transcripts))
    docs = assemble(turns.where(F.col("error").isNull())).select(
        F.col("conv_id").alias("doc_id"),
        F.col("document_text").alias("text"),
        F.lit("transcripts").alias("source"),
    ).persist()
    try:
        pairs = ngram_jaccard_pairs_for(docs, threshold=0.5)
        _, packed = compose.clean_and_pack(docs, pairs, budget=500)
        qe = packed._jdf.queryExecution()
        p = qe.executedPlan().toString()
        assert len(p) < 100_000, f"plan string blew up: {len(p)} chars"
        assert "LogicalRDD" in qe.optimizedPlan().toString()

        persisted = []
        orig_persist = type(docs).persist

        def tracking(df, *args, **kw):
            persisted.append(df)
            return orig_persist(df, *args, **kw)

        def crash(*args, **kwargs):
            raise RuntimeError("filter crashed")

        monkeypatch.setattr(type(docs), "persist", tracking)
        monkeypatch.setattr(compose, "corpus_filter_for", crash)
        with pytest.raises(RuntimeError, match="filter crashed"):
            compose.clean_and_pack(docs, pairs, budget=500)
        assert persisted and not [
            df for df in persisted
            if df.storageLevel.useMemory or df.storageLevel.useDisk
        ]
    finally:
        docs.unpersist()


def _naive_pack(docs, budget):
    from pyspark.sql.window import Window

    from v2_ocr_spark.operators.textstats import BPE_ISH

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            "source", "doc_id",
            F.regexp_count("text", F.lit(BPE_ISH)).alias("n_tokens"),
        )
        .select(
            "source", "doc_id", "n_tokens",
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            .cast("bigint").alias("start_token"),
        )
        .select(
            "source", "doc_id", "n_tokens", "start_token",
            F.expr(f"start_token DIV {budget}").alias("bin"),
        )
        .toPandas()
        .sort_values(["source", "doc_id"])
        .reset_index(drop=True)
    )


def test_token_pack_string_ids_shard_and_match_single_window(spark):
    """String doc_ids (the composed pipeline's conv_id keys) must take
    the sampled-boundary shard path — NOT the one-task-per-source
    fallback — and stay byte-identical to the naive window."""
    docs = spark.range(0, 400).select(
        F.concat(F.lit("conv"), F.lpad(F.col("id").cast("string"), 6, "0"))
        .alias("doc_id"),
        F.when(F.col("id") % 3 == 0, F.lit("alpha"))
        .otherwise(F.lit("beta"))
        .alias("source"),
        F.concat(F.lit("some text tok "), F.col("id").cast("string"))
        .alias("text"),
    )
    naive = _naive_pack(docs, 100)
    for shards in (1, 4, 16):
        got = (
            corpus.token_pack_for(docs, budget=100, shards=shards)
            .toPandas()
            .sort_values(["source", "doc_id"])
            .reset_index(drop=True)
        )
        assert got.equals(naive), f"shards={shards}"

    # the plan proof that string ids genuinely shard: literal string
    # boundaries materialize as a CASE WHEN over doc_id (the fallback
    # shard_col = lit(0) plans no conditional at all)
    p = (
        corpus.token_pack_for(docs, budget=100, shards=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CASE WHEN" in p
    assert "hashpartitioning(_shard" in p
    assert "SinglePartition" not in p

    # default (shards=None) on a tiny input ADAPTIVELY collapses: no
    # boundary sharding in the plan (one window task covers 400 rows
    # faster than the count+sample jobs run), same output either way
    p0 = (
        corpus.token_pack_for(docs, budget=100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "_shard" not in p0
    got0 = (
        corpus.token_pack_for(docs, budget=100)
        .toPandas()
        .sort_values(["source", "doc_id"])
        .reset_index(drop=True)
    )
    assert got0.equals(naive)


def test_token_pack_null_id_source_text_shard_equals_window(spark):
    """NULL doc_id (shard 0 up front — the CaseWhen NULLS-FIRST guard),
    NULL source (its own window group; the offset join is eqNullSafe)
    and NULL text (NULL n_tokens: start stays NULL, later rows skip it)
    must all survive the sharded two-phase path byte-identically to the
    single-window formulation — the fixture tables carry none of these,
    so this pins the guards directly."""
    rows = []
    for i in range(20):
        rows.append(
            (f"conv{i:06d}", "alpha" if i % 2 else "beta",
             "tok " * (i + 1))
        )
    rows.append((None, "alpha", "null id text"))      # NULL doc_id
    rows.append((None, "beta", "null id text b"))
    rows.append(("convzz0001", None, "null src one"))  # NULL source grp
    rows.append(("convzz0002", None, "null src two"))
    rows.append(("conv000099", "alpha", None))         # NULL text
    docs = spark.createDataFrame(
        rows, "doc_id string, source string, text string"
    )
    naive = _naive_pack(docs, 100)
    for shards in (4, 16):
        got = (
            corpus.token_pack_for(docs, budget=100, shards=shards)
            .toPandas()
            .sort_values(["source", "doc_id"])
            .reset_index(drop=True)
        )
        assert got.equals(naive), f"shards={shards}"


def test_run_extract_clean_pipeline_minhash(
    spark, small_transcripts, tmp_path
):
    """dedup_method='minhash' routes conversation near-dup through the
    sub-quadratic signature->LSH->verify path (string conv_ids) and
    still produces a decision for every conversation."""
    out = str(tmp_path / "composed_mh")
    summary = run_extract_clean_pipeline(
        spark, small_transcripts, out, num_partitions=NP, budget=500,
        dedup_method="minhash",
    )
    src = spark.read.parquet(small_transcripts)
    n_convs = src.select("conv_id").distinct().count()
    assert summary["extraction"]["status"] == "ok"
    assert sum(v["n_docs"] for v in summary["outcomes"].values()) == n_convs
    assert summary["kept_docs"] > 0
    assert (
        spark.read.parquet(f"{out}/packed").count() == summary["kept_docs"]
    )

    with pytest.raises(ValueError, match="dedup_method"):
        run_extract_clean_pipeline(
            spark, small_transcripts, str(tmp_path / "bad"),
            dedup_method="nope",
        )


def test_pipeline_empty_input_degrades_gracefully(
    spark, sf_small, tmp_path
):
    """Zero conversations in: the composed job must complete with an
    ok status and an honest all-zero summary (no crash in assembly,
    near-dup, filtering, or packing on empty frames), and the output
    directory must carry the same summary.json a non-empty run
    writes."""
    src = str(tmp_path / "empty.parquet")
    spark.read.parquet(f"{sf_small}/transcripts.parquet").limit(
        0
    ).write.parquet(src)
    out = str(tmp_path / "out")
    summary = run_extract_clean_pipeline(
        spark, src, out, num_partitions=2
    )
    assert summary["extraction"]["status"] == "ok"
    assert summary["extraction"]["turns_seen"] == 0
    assert summary["extraction"]["turns_errored"] == 0
    assert summary["kept_docs"] == 0 and summary["kept_bins"] == 0
    assert summary["outcomes"] == {}
    with open(f"{out}/summary.json") as f:
        assert json.load(f) == summary
