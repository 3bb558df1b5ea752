"""Composed CORPUS QUALITY REPORT job: one pass over a documents
table producing the per-document quality ledger a pretraining curation
run reads before deciding filters — the round-5 operator family joined
into a single table plus a corpus-level summary:

  * lm_logloss_for        — unigram-LM bits/token + OOV fraction
                            (CCNet-style fluency signal)
  * remove_dup_spans_for  — duplicate-substring token counts
                            (Lee-et-al repeated-span signal)
  * scrub_boilerplate_for — inter-document boilerplate line counts
                            (site-template signal)

Nothing here is new machinery — the report is two doc_id joins over
the already-twinned operators (COVERAGE.md), written as parquet with
one summary.json, the compose-module discipline. Each input operator
keeps its own contracts (NULL-text docs are excluded by all three, so
the joins are inner-equivalent but written as left joins from the
span surface, which covers every text-bearing doc).

Scale notes: lm_logloss_for is two token shuffles + an equi-join;
remove_dup_spans_for is the single-pass shingle window chain;
scrub_boilerplate_for broadcasts only the Zipf-head drop set. The
three share nothing but the scan: the job reads the documents table
once and hands the same DataFrame to all three (at 100 TB, a
cached/bucketed documents table).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from v2_ocr_spark.pipeline.compose import _drop_summary, _write_summary


def corpus_quality_report(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    ref_source: str | None = None,
    span_k: int = 8,
    span_min_count: int = 2,
    boiler_min_docs: int = 3,
) -> dict:
    """Write `<out_dir>/doc_quality/` (parquet, one row per
    text-bearing document) and `<out_dir>/summary.json`; return the
    summary dict. Columns: doc_id, n_tokens, bits_per_token, oov_frac,
    dup_tokens, dup_token_frac, n_lines, boiler_lines,
    boiler_line_frac. Fractions are NULL-safe (zero-token /
    zero-line docs get NULL, never NaN — the repo scoring invariant)
    and rounded to 6.
    """
    from v2_ocr_spark.operators.corpus import (
        lm_logloss_for,
        remove_dup_spans_for,
        scrub_boilerplate_for,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # the ledger's n_tokens is the SPAN-side count (original-case
    # tokens — the same stream dup_tokens counts over), so every row
    # is internally derivable: dup_token_frac == dup_tokens/n_tokens.
    # lm_logloss_for tokenizes lower(text); its per-token stats
    # (bits_per_token, oov_frac) are carried as-is and documented as
    # computed over the lowercased stream — case-fold-expanding
    # Unicode can make the two counts differ, and mixing them in one
    # fraction would let dup_tokens exceed the row's own denominator.
    lm = lm_logloss_for(docs, ref_source).select(
        "doc_id", "bits_per_token", "oov_frac"
    )
    spans = remove_dup_spans_for(docs, span_k, span_min_count).select(
        "doc_id",
        "n_tokens",
        "dup_tokens",
    )
    boiler = scrub_boilerplate_for(docs, boiler_min_docs).select(
        "doc_id",
        "n_lines",
        (F.col("n_lines") - F.col("kept_lines")).alias("boiler_lines"),
    )

    report = (
        spans.join(lm, "doc_id", "left")
        .join(boiler, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "bits_per_token",
            "oov_frac",
            "dup_tokens",
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.col("dup_tokens") / F.col("n_tokens"),
                ),
                6,
            ).alias("dup_token_frac"),
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            F.coalesce(F.col("boiler_lines"), F.lit(0)).alias(
                "boiler_lines"
            ),
            F.round(
                F.when(
                    F.col("n_lines") > 0,
                    F.col("boiler_lines") / F.col("n_lines"),
                ),
                6,
            ).alias("boiler_line_frac"),
        )
    )
    out_table = os.path.join(out_dir, "doc_quality")
    _drop_summary(out_dir)
    report.write.mode("overwrite").parquet(out_table)

    written = spark.read.parquet(out_table)
    # count totals coalesce to 0 on an empty corpus (sum over zero
    # rows is NULL — an honest report says zero); the MEAN stays NULL
    # (a mean over nothing has no value to claim)
    agg = written.agg(
        F.count("*").alias("docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("total_tokens"),
        F.round(F.avg("bits_per_token"), 6).alias("mean_bits_per_token"),
        F.coalesce(F.sum("dup_tokens"), F.lit(0)).alias(
            "total_dup_tokens"
        ),
        F.coalesce(F.sum("boiler_lines"), F.lit(0)).alias(
            "total_boiler_lines"
        ),
        F.count(F.when(F.col("oov_frac") > 0, 1)).alias("docs_with_oov"),
    ).collect()[0]
    summary = {
        "table": out_table,
        "params": {
            "ref_source": ref_source,
            "span_k": span_k,
            "span_min_count": span_min_count,
            "boiler_min_docs": boiler_min_docs,
        },
        **{k: _jsonable(v) for k, v in agg.asDict().items()},
    }
    _write_summary(out_dir, summary)
    return summary


def _jsonable(v):
    return v.item() if hasattr(v, "item") else v
