"""End-to-end per-turn equality (SURVEY.md §5.2 item 3): the Spark
mapInPandas pipeline must reproduce the pregenerated expected table
byte-for-byte on every turn, never dropping rows (P10)."""

from __future__ import annotations

import time

import pandas as pd
import pyspark.sql.functions as F
import pytest

from v2_ocr_spark.kernels import KERNELS
from v2_ocr_spark.operators.extract import (
    _extract_batch,
    extract_pandas,
    extract_turns,
)


@pytest.fixture(scope="module")
def extracted(spark, sf_small):
    df = spark.read.parquet(f"{sf_small}/transcripts.parquet")
    out = extract_turns(df).persist()
    out.count()
    yield out
    out.unpersist()


def test_row_count_preserved(spark, sf_small, extracted):
    n_in = spark.read.parquet(f"{sf_small}/transcripts.parquet").count()
    assert extracted.count() == n_in


def test_no_duplicate_keys(extracted):
    dups = (
        extracted.groupBy("conv_id", "turn_idx")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_per_turn_byte_equality(spark, sf_small, extracted):
    expected = spark.read.parquet(f"{sf_small}/transcripts_expected.parquet")
    joined = extracted.join(expected, ["conv_id", "turn_idx"], "full_outer")
    mismatches = joined.where(
        F.col("extracted_text").isNull()
        | F.col("expected_text").isNull()
        | (F.col("extracted_text") != F.col("expected_text"))
    )
    bad = mismatches.limit(5).collect()
    assert not bad, f"first mismatches: {bad}"


def test_spans_equality(spark, sf_small, extracted):
    expected = spark.read.parquet(f"{sf_small}/transcripts_expected.parquet")
    joined = extracted.join(expected, ["conv_id", "turn_idx"], "inner")
    mism = joined.where(
        F.to_json(F.col("spans")) != F.to_json(F.col("expected_spans"))
    )
    bad = mism.limit(5).collect()
    assert not bad, f"span mismatches: {bad}"


def test_no_error_rows_on_clean_input(extracted):
    assert extracted.where(F.col("error").isNotNull()).count() == 0


def test_matches_pure_pandas_reference(spark, sf_small, extracted):
    """The Spark run equals a driver-side pandas run of the same kernels."""
    pdf = spark.read.parquet(f"{sf_small}/transcripts.parquet").toPandas()
    ref = extract_pandas(pdf)[["conv_id", "turn_idx", "extracted_text"]]
    got = (
        extracted.select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    ref = ref.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert got.equals(ref)


def test_metrics_columns(spark, sf_small):
    df = spark.read.parquet(f"{sf_small}/transcripts.parquet").limit(500)
    out = extract_turns(df, with_metrics=True)
    row = out.agg(
        F.sum("chars_in").alias("ci"),
        F.sum("chars_out").alias("co"),
        F.min("proc_us").alias("p"),
    ).collect()[0]
    assert row.ci > 0 and row.co > 0 and row.p >= 0


def test_stable_ordering_under_repartition(spark, sf_small):
    """W1: ordering comes from turn_idx, not from physical layout —
    shuffling the input does not change the per-conv ordered output."""
    df = spark.read.parquet(f"{sf_small}/transcripts.parquet")
    a = (
        extract_turns(df)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
    )
    b = (
        extract_turns(df.repartition(16))
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
    )
    assert a.equals(b)


def _batch(rows):
    """(payload_kind, text) pairs -> an _extract_batch input frame."""
    return pd.DataFrame(
        {
            "conv_id": "c",
            "turn_idx": range(len(rows)),
            "text": [t for _, t in rows],
            "payload_kind": [k for k, _ in rows],
        }
    )


def test_proc_us_is_per_kind_kernel_time(monkeypatch):
    """proc_us is the kernel time of the row's own kind, not the batch
    wall time smeared over every row."""
    html = KERNELS["html"]

    def slow_html(texts):
        time.sleep(0.05)
        return html(texts)

    monkeypatch.setitem(KERNELS, "html", slow_html)
    rows = [("html", "<p>some html content long enough to keep</p>")]
    rows += [("plain", f"turn {i}") for i in range(9)]
    out = _extract_batch(_batch(rows), True)
    assert out["proc_us"].iloc[0] >= 50_000
    assert out["proc_us"].iloc[1:].sum() < 5_000


def test_kernel_failure_isolated_to_its_row(monkeypatch):
    """P10: a raising kernel call and an unknown kind become error rows;
    every other row, and the row order, are untouched."""
    plain = KERNELS["plain"]

    def fragile_plain(texts):
        if (texts == "boom").any():
            raise ValueError("kernel exploded")
        return plain(texts)

    monkeypatch.setitem(KERNELS, "plain", fragile_plain)
    rows = [
        ("markdown", "# a\n\n![i](x) b"),
        ("plain", "one"),
        ("markdown", "$$m$$"),
        ("plain", "boom"),
        ("bogus", "??"),
        ("plain", None),
        ("markdown", None),
        ("plain", "two"),
    ]
    batch = _batch(rows)
    out = _extract_batch(batch, False)
    assert len(out) == len(batch)
    assert list(zip(out["conv_id"], out["turn_idx"])) == list(
        zip(batch["conv_id"], batch["turn_idx"])
    )
    boom = out.iloc[3]
    assert (boom["extracted_text"], boom["spans"]) == ("", [])
    assert "kernel exploded" in boom["error"]
    assert out.iloc[4]["error"] == "unknown payload kind: bogus"
    for i in (0, 1, 2, 5, 6, 7):
        alone = _extract_batch(batch.iloc[i:i + 1], False)
        pd.testing.assert_frame_equal(out.iloc[i:i + 1], alone)
        assert alone["error"].iloc[0] is None
