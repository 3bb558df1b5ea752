"""The composed FLAGSHIP-to-TRAINING-DATA job: resumable transcript
extraction -> conversation assembly -> corpus cleaning (quality +
language + length + conversation-level near-dup keeper) -> token
packing, as ONE pipeline run.

This wires the two halves the repo otherwise exposes separately:

  * the extraction path (ExtractionJob: per-partition checkpointed
    extract of every transcript turn, lease-owned sink, lineage
    metrics — the north-rule flagship), and
  * the training-data path (corpus_filter -> keeper selection ->
    token_pack, the operators the gate checks over the synthetic
    `documents` fixture).

Stage boundary discipline: the extraction output is COMMITTED parquet
(the MergeSink table), so the cleaning stages re-read a real table
exactly as a production pipeline would — a crash in cleaning never
invalidates the extraction commits, and a re-run resumes extraction
as up-to-date and recomputes only the cleaning tail. The tail itself
is clean_and_pack, the one function the pipeline_clean_pack gate
entry also runs; its in-memory cuts (localCheckpointed labels and
decisions) keep the pack plan bounded without a parquet re-read.

Scale notes per stage: extraction is the audited zero-shuffle
MapInArrow; assembly the two-phase chunked merge (turn-derived salt);
near-dup over assembled conversations is selectable — the exact
shingle inverted index (ngram_jaccard_pairs_for, default, max_df cap
available) or the sub-quadratic MinHash->LSH->verify cascade
(minhash_lsh_pairs_for, `dedup_method="minhash"`, the tunable at
100 TB); both are string-id generic. Packing is the two-phase
distributed prefix sum, sharded for STRING ids via seeded-sample
boundaries (see token_pack_for). Nothing here is new machinery — the
compose step is joins over the already-audited operators.

Reference parity: the reference's processing chain (queue claim ->
per-page OCR cleanup -> document assembly -> export) is
file-processor.ts:229-330 + the export path page.tsx:629-655; the
cleaning tail is the training-data extension the reference lacks.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from v2_ocr_spark.operators.assemble import assemble
from v2_ocr_spark.operators.corpus import (
    _filter_stats_for,
    corpus_filter_for,
    token_pack_for,
)
from v2_ocr_spark.operators.dedup import (
    dedup_keep_list_for,
    duplicate_clusters,
    minhash_lsh_pairs_for,
    ngram_jaccard_pairs_for,
)
from v2_ocr_spark.operators.textstats import token_counts_for
from v2_ocr_spark.pipeline.runner import ExtractionJob
from v2_ocr_spark.pipeline.sink import DEFAULT_PARTITIONS


def _drop_summary(out_dir: str) -> None:
    """Remove a previous run's summary.json. Every composed job calls
    this before its first table write: a crash between the table
    writes and the new summary must never leave an old summary (old
    params, old stats) beside new tables."""
    path = os.path.join(out_dir, "summary.json")
    if os.path.exists(path):
        os.remove(path)


def _write_summary(out_dir: str, summary: dict) -> None:
    """Atomic summary.json swap (tmp write + rename): a crashed writer
    can never leave a torn or partial summary behind. The ONE writer
    for every composed job's summary. out_dir must be a DRIVER-LOCAL
    path: the tables go through Hadoop writers, but this is plain file
    IO."""
    tmp = os.path.join(out_dir, "summary.json.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(summary, f)
    os.replace(tmp, os.path.join(out_dir, "summary.json"))


def clean_and_pack(
    docs: DataFrame,
    pairs: DataFrame,
    budget: int = 2048,
    min_quality: float = 0.5,
    min_chars: int = 100,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
) -> tuple[DataFrame, DataFrame]:
    """Eager: runs Spark jobs when called. The cleaning tail of the
    composed job and the body of the pipeline_clean_pack gate entry:
    near-dup clusters over ``pairs`` -> keeper selection -> corpus
    filter over ``docs`` -> token packing of the survivors.
    -> (corpus_filter_for decisions, token_pack_for rows of the kept).

    Labels and decisions are localCheckpointed: carrying the closure
    lineage into token_pack's two prefix-sum branches explodes the plan
    (measured: driver OOM just rendering explain at sf0.001). The
    cluster labels are released on every path; docs and pairs stay the
    caller's."""
    clusters = duplicate_clusters(pairs)
    try:
        keep = dedup_keep_list_for(docs, clusters.localCheckpoint(eager=True))
        decisions = corpus_filter_for(
            docs, keep,
            min_quality=min_quality, min_chars=min_chars, langs=langs,
        ).localCheckpoint(eager=True)
    finally:
        clusters.unpersist()
    # pack the SURVIVORS: packing before the filter would leave every
    # window underfilled by the tokens of later-dropped docs
    kept = docs.join(decisions.where(F.col("keep")).select("doc_id"), "doc_id")
    return decisions, token_pack_for(kept, budget=budget)


def run_extract_clean_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    num_partitions: int = DEFAULT_PARTITIONS,
    budget: int = 2048,
    min_quality: float = 0.5,
    min_chars: int = 100,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
    dedup_threshold: float = 0.5,
    shingle_n: int = 3,
    max_df: int | None = None,
    dedup_method: str = "ngram",
    incremental: bool = False,
) -> dict:
    """Extract every transcript turn, assemble conversations, filter
    them with the corpus-cleaning decision, and pack the survivors into
    token-budget windows.

    Writes (under ``out_dir``):
      extracted/    the committed per-partition extraction table
                    (resumable; re-runs skip committed partitions)
      clean/        kept conversations with their filter columns
      packed/       (source, doc_id, n_tokens, start_token, bin)
      summary.json  filter outcomes + pack bins + extraction lineage
                    (a stale one is removed before the first write)

    Returns the summary dict; ``summary["extraction"]`` carries the
    extraction-stage lineage (run id, status, per-run committed
    partitions, and the turn/char/error totals from the per-partition
    commit metrics) so ONE artifact covers both stages.
    """
    if dedup_method not in ("ngram", "minhash"):
        raise ValueError(
            f"dedup_method must be 'ngram' or 'minhash', got {dedup_method!r}"
        )
    _drop_summary(out_dir)
    job = ExtractionJob(
        spark, input_path, f"{out_dir}/extracted",
        num_partitions=num_partitions,
    )
    res = job.run(incremental=incremental)
    # extraction lineage computed NOW (the sink's committed metrics are
    # final once run() returns); it lands in summary.json's single
    # atomic write below, together with the cleaning outcomes
    metrics = [c.get("metrics", {}) for c in job.sink.committed().values()]
    extraction = {
        "run_id": res["run_id"],
        "status": res["status"],
        "committed_this_run": len(res.get("committed", [])),
        "partitions": len(metrics),
        "turns_seen": sum(m.get("turns_seen", 0) for m in metrics),
        "turns_errored": sum(m.get("turns_errored", 0) for m in metrics),
        "chars_out": sum(m.get("chars_out", 0) for m in metrics),
    }

    # errored turns stay rows in the extract table (P10) but carry no
    # text; the cleaning stages consume successful extractions only
    docs = assemble(job.read_output().where(F.col("error").isNull())).select(
        F.col("conv_id").alias("doc_id"),
        F.col("document_text").alias("text"),
        F.lit("transcripts").alias("source"),
    ).persist()
    pairs = None
    try:
        # 'ngram': the EXACT inverted index (default; max_df skew cap);
        # 'minhash': sub-quadratic signature->LSH->verify, the tunable at
        # 100 TB where even capped df^2 over conversations dominates
        kw = {"threshold": dedup_threshold, "shingle_n": shingle_n}
        pairs = (
            minhash_lsh_pairs_for(docs, **kw) if dedup_method == "minhash"
            else ngram_jaccard_pairs_for(docs, max_df=max_df, **kw)
        )
        decisions, packed = clean_and_pack(
            docs, pairs, budget=budget,
            min_quality=min_quality, min_chars=min_chars, langs=langs,
        )
        kept = decisions.where("keep").select("doc_id", "pred_lang", "quality")
        docs.join(kept, "doc_id").write.mode("overwrite").parquet(
            f"{out_dir}/clean"
        )
        packed.write.mode("overwrite").parquet(f"{out_dir}/packed")
        # stats straight off the checkpointed decisions — never a
        # second, recomputed filter
        toks = token_counts_for(docs, ["doc_id"])
        stats = {
            r["reason"]: {k: r[k] for k in ("n_docs", "bpe_tokens")}
            for r in _filter_stats_for(decisions, toks).collect()
        }
    finally:
        if pairs is not None:
            # minhash hands back a persisted pair set the job owns (a
            # no-op on the lazy ngram pairs)
            pairs.unpersist()
        docs.unpersist()

    # count bins from the files just written, not by re-running the
    # pack plan (window + scan + join) a second time
    bins = spark.read.parquet(f"{out_dir}/packed").select("source", "bin")
    summary = {
        "outcomes": stats,
        "kept_docs": int(stats.get("kept", {}).get("n_docs", 0)),
        "kept_bins": bins.distinct().count(),
        "budget": budget,
        "extraction": extraction,
    }
    _write_summary(out_dir, summary)
    return summary
