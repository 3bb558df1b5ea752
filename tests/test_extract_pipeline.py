"""End-to-end per-turn equality (SURVEY.md §5.2 item 3): the Spark
mapInArrow pipeline must reproduce the pregenerated expected table
byte-for-byte on every turn, never dropping rows (P10)."""

from __future__ import annotations

import time

import pyarrow as pa
import pyspark.sql.functions as F
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from v2_ocr_spark.kernels import SCALARS
from v2_ocr_spark.operators.extract import (
    EXTRACTED_DDL,
    EXTRACTED_METRICS_DDL,
    extract_batch,
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
    """(payload_kind, text) pairs -> an extract_batch input batch."""
    return pa.RecordBatch.from_pydict(
        {
            "conv_id": ["c"] * len(rows),
            "turn_idx": pa.array(range(len(rows)), pa.int32()),
            "text": [t for _, t in rows],
            "payload_kind": [k for k, _ in rows],
        }
    )


def test_batch_schema_is_the_arrow_form_of_the_ddl(spark):
    """The batch function builds exactly the Arrow schema Spark derives
    from each declared DDL, with and without metrics."""
    rows = [("html", "<p>a paragraph</p>"), ("plain", None), ("bogus", "x")]
    for ddl, metrics in ((EXTRACTED_DDL, False), (EXTRACTED_METRICS_DDL, True)):
        want = to_arrow_schema(spark.createDataFrame([], ddl).schema)
        assert extract_batch(_batch(rows), metrics).schema.equals(want)


def test_proc_us_is_per_kind_kernel_time(monkeypatch):
    """proc_us is the kernel time of the row's own kind, not the batch
    wall time smeared over every row."""
    html = SCALARS["html"]

    def slow_html(text):
        time.sleep(0.05)
        return html(text)

    monkeypatch.setitem(SCALARS, "html", slow_html)
    rows = [("html", "<p>some html content long enough to keep</p>")]
    rows += [("plain", f"turn {i}") for i in range(9)]
    proc_us = extract_batch(_batch(rows), True).column("proc_us").to_pylist()
    assert proc_us[0] >= 50_000
    assert sum(proc_us[1:]) < 5_000


def test_kernel_failure_isolated_to_its_row(monkeypatch):
    """P10: a raising kernel call and an unknown kind become error rows;
    every other row, and the row order, are untouched."""
    plain = SCALARS["plain"]

    def fragile_plain(text):
        if text == "boom":
            raise ValueError("kernel exploded")
        return plain(text)

    monkeypatch.setitem(SCALARS, "plain", fragile_plain)
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
    out = extract_batch(batch, False).to_pylist()
    assert len(out) == batch.num_rows
    assert [(r["conv_id"], r["turn_idx"]) for r in out] == list(
        zip(batch.column("conv_id").to_pylist(),
            batch.column("turn_idx").to_pylist())
    )
    boom = out[3]
    assert (boom["extracted_text"], boom["spans"]) == ("", [])
    assert boom["error"] == "ValueError: kernel exploded"
    assert out[4]["error"] == "unknown payload kind: bogus"
    for i in (0, 1, 2, 5, 6, 7):
        alone = extract_batch(batch.slice(i, 1), False).to_pylist()
        assert alone == [out[i]]
        assert alone[0]["error"] is None
