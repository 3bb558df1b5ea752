"""Composed corpus quality report (pipeline/quality.py) — e2e over the
real sf0.001 documents table: the per-doc ledger must agree row-level
with the three source operators it joins (each already DuckDB- or
pure-Python-twinned in its own suite), and the summary must agree with
the written table.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from v2_ocr_spark.fixtures.oracle_expected import round6
from v2_ocr_spark.operators.corpus import (
    lm_logloss_for,
    remove_dup_spans_for,
    scrub_boilerplate_for,
)
from v2_ocr_spark.pipeline.quality import corpus_quality_report

SF = "/root/testdata/sf0.001"


def test_quality_report_end_to_end(spark, documents, tmp_path):
    out = str(tmp_path / "report")
    os.makedirs(out)
    summary = corpus_quality_report(spark, SF, out)

    table = spark.read.parquet(f"{out}/doc_quality")
    rows = {r.doc_id: r for r in table.collect()}
    assert len(rows) == 500
    # summary agrees with the table it points at
    assert summary["docs"] == 500
    assert summary["total_tokens"] == sum(r.n_tokens for r in rows.values())
    assert summary["total_dup_tokens"] == sum(
        r.dup_tokens for r in rows.values()
    )
    with open(f"{out}/summary.json") as f:
        assert json.load(f) == summary

    # row-level agreement with each source operator
    lm = {r.doc_id: r for r in lm_logloss_for(documents).collect()}
    sp = {r.doc_id: r for r in remove_dup_spans_for(documents).collect()}
    bl = {r.doc_id: r for r in scrub_boilerplate_for(documents).collect()}
    for d, r in rows.items():
        # n_tokens is the SPAN-side (original-case) count — the same
        # stream dup_tokens counts over, so the row is self-consistent
        assert r.n_tokens == sp[d].n_tokens
        assert r.bits_per_token == lm[d].bits_per_token
        assert r.oov_frac == lm[d].oov_frac
        assert r.dup_tokens == sp[d].dup_tokens
        assert r.boiler_lines == bl[d].n_lines - bl[d].kept_lines
        # the fraction is derivable from the row's own columns
        if r.n_tokens > 0:
            assert r.dup_token_frac == round6(r.dup_tokens / r.n_tokens)
    # non-vacuous on the real corpus: dup spans exist (probed in
    # tests/test_dup_spans.py), boilerplate lines do not
    assert summary["total_dup_tokens"] > 0
    assert summary["total_boiler_lines"] == 0
    assert summary["docs_with_oov"] == 0  # self-trained LM


def test_quality_report_non_default_paths(spark, tmp_path):
    """ref_source plumbing, the OOV counter, the boilerplate branch,
    and the zero-token NULL-fraction contract (NULL, never NaN — the
    repo scoring invariant) on a planted corpus."""
    import math

    sf = str(tmp_path / "corpus")
    spark.createDataFrame(
        [
            # wiki trains the LM; 'zz' is OOV for the web docs.
            # 'banner' lines appear in 3 docs -> boilerplate.
            (1, "banner\naa bb cc dd", "wiki"),
            (2, "banner\naa bb zz zz", "web"),
            (3, "banner\naa cc", "web"),
            (4, "", "web"),  # zero tokens, one scrubbable '' line
            (5, None, "web"),
        ],
        "doc_id bigint, text string, source string",
    ).write.parquet(f"{sf}/documents.parquet")

    out = str(tmp_path / "report")
    os.makedirs(out)
    summary = corpus_quality_report(
        spark, sf, out, ref_source="wiki", span_k=3, boiler_min_docs=3
    )
    rows = {
        r.doc_id: r
        for r in spark.read.parquet(f"{out}/doc_quality").collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    assert summary["params"]["ref_source"] == "wiki"
    # OOV surfaced for the web doc with the unseen token
    assert rows[2].oov_frac and rows[2].oov_frac > 0
    assert summary["docs_with_oov"] == 1
    # boilerplate branch: the shared 'banner' line counted per doc
    assert rows[1].boiler_lines == 1 and rows[3].boiler_lines == 1
    assert summary["total_boiler_lines"] == 3
    # zero-token doc: NULL fractions and scores, never NaN
    z = rows[4]
    assert z.n_tokens == 0
    for v in (z.bits_per_token, z.oov_frac, z.dup_token_frac):
        assert v is None or not math.isnan(v)
        assert v is None

    # re-run discipline: changed params replace BOTH table and summary
    summary2 = corpus_quality_report(
        spark, sf, out, ref_source="wiki", span_k=2, boiler_min_docs=3
    )
    with open(f"{out}/summary.json") as f:
        assert json.load(f)["params"]["span_k"] == 2
    assert summary2["docs"] == 4


def test_quality_report_empty_corpus(spark, tmp_path):
    """Zero documents in: the report completes with an honest all-zero
    summary (count totals 0, the over-nothing mean NULL) and an empty
    but readable ledger."""
    sf = str(tmp_path / "corpus")
    spark.createDataFrame(
        [], "doc_id bigint, text string, source string"
    ).write.parquet(f"{sf}/documents.parquet")
    out = str(tmp_path / "report")
    os.makedirs(out)
    summary = corpus_quality_report(spark, sf, out)
    assert summary["docs"] == 0
    assert summary["total_tokens"] == 0
    assert summary["total_dup_tokens"] == 0
    assert summary["total_boiler_lines"] == 0
    assert summary["docs_with_oov"] == 0
    assert summary["mean_bits_per_token"] is None
    assert spark.read.parquet(f"{out}/doc_quality").count() == 0
