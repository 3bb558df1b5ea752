"""Golden-fixture unit tests — byte-equality anchors against
hand-derived expected outputs (SURVEY.md §5.2 item 1).

No SparkSession needed: kernels are pure pandas functions.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from v2_ocr_spark.kernels import KERNELS
from v2_ocr_spark.kernels.blocks import reassemble_blocks
from v2_ocr_spark.kernels.markdown import (
    clean_markdown,
    js_trim,
    paragraph_spans,
)
from v2_ocr_spark.kernels.textfns import (
    export_document_text,
    is_rtl_text,
    safe_download_name,
    to_arabic_numerals,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def load(name):
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        return json.load(f)


E1 = load("e1_markdown.json")["cases"]
E3 = load("e3_blocks_rtl.json")["cases"]
E567 = load("e5_e6_e7.json")


@pytest.mark.parametrize("case", E1, ids=[c["name"] for c in E1])
def test_e1_markdown_scalar(case):
    assert clean_markdown(case["input"]) == case["expected"]


def test_e1_markdown_vectorized_matches_scalar():
    s = pd.Series([c["input"] for c in E1], dtype=object)
    cleaned, spans = KERNELS["markdown"](s)
    assert list(cleaned) == [c["expected"] for c in E1]
    # spans: contiguous, non-overlapping, inside the cleaned string
    for text, sp in zip(cleaned, spans):
        prev_end = -1
        for (start, end, kind) in sp:
            assert kind == "paragraph"
            assert 0 <= start < end <= len(text)
            assert start > prev_end
            prev_end = end
            assert text[start:end].strip("\n") == text[start:end]


@pytest.mark.parametrize("case", E3, ids=[c["name"] for c in E3])
def test_e3_blocks_scalar(case):
    text, _spans = reassemble_blocks(case["input"])
    assert text == case["expected"]


def test_e3_blocks_vectorized_and_spans():
    s = pd.Series([c["input"] for c in E3], dtype=object)
    texts, spans = KERNELS["blocks_rtl"](s)
    assert list(texts) == [c["expected"] for c in E3]
    for text, sp in zip(texts, spans):
        for (start, end, kind) in sp:
            assert kind == "region"
            assert 0 <= start <= end <= len(text)


def test_e3_region_spans_slice_to_region_text():
    payload = json.dumps(
        {
            "language": "en",
            "regions": [
                {"lines": [{"words": [{"text": "r1"}, {"text": "w"}]}]},
                {"lines": [{"words": [{"text": "r2"}]}]},
            ],
        }
    )
    text, spans = reassemble_blocks(payload)
    assert [text[s:e] for s, e, _ in spans] == ["r1 w", "r2"]


def test_e4_passthrough_preserves_bytes():
    vals = ["", "   \t ", "abc", "ن ص", "a\n\nb"]
    out, spans = KERNELS["plain"](pd.Series(vals, dtype=object))
    assert list(out) == vals
    assert list(spans.map(len)) == [0, 1, 1, 1, 1]


@pytest.mark.parametrize("case", E567["e5_cases"])
def test_e5_rtl_detect(case):
    assert is_rtl_text(case["input"]) is case["expected"]


@pytest.mark.parametrize("case", E567["e6_cases"])
def test_e6_numerals(case):
    assert to_arabic_numerals(case["num"], case["language"]) == case["expected"]


@pytest.mark.parametrize("case", E567["e7_cases"])
def test_e7_safe_name(case):
    assert safe_download_name(case["input"], "16-08-2026") == case["expected"]


def test_e7_length_cap():
    assert safe_download_name("x" * 300 + ".txt", "16-08-2026") == "x" * 251


def test_js_trim_vs_python_strip():
    # JS strips U+FEFF; Python's default strip does not.
    assert js_trim("﻿x") == "x"
    assert "﻿x".strip() == "﻿x"
    # Python strips U+001C; JS does not.
    assert js_trim("\x1cx") == "\x1cx"
    assert "\x1cx".strip() == "x"


def test_e14_export_layout_exact():
    # Hand-constructed from app/documents/[id]/page.tsx:629-655.
    sep = "=" * 80
    out = export_document_text(
        "doc.pdf", [(2, "second"), (1, "first")], "1/1/2025, 1:00:00 AM"
    )
    expected = (
        f"{sep}\nDocument: doc.pdf\nExported: 1/1/2025, 1:00:00 AM\n"
        f"Total Pages: 2\n{sep}\n\n"
        f"{sep}\nPage 1 of 2\n{sep}\n\nfirst\n\n\n"
        f"{sep}\nPage 2 of 2\n{sep}\n\nsecond\n\n"
    )
    assert out == expected


def test_paragraph_spans_offsets():
    text = "aaa\n\nbbb\n\n\nccc"
    assert paragraph_spans(text) == [
        (0, 3, "paragraph"),
        (5, 8, "paragraph"),
        (11, 14, "paragraph"),
    ]
    assert paragraph_spans("") == []


def test_e8_path_normalization():
    from v2_ocr_spark.kernels.textfns import normalize_storage_path

    assert normalize_storage_path("u1/u1/doc/p.jpg", "u1") == "doc/p.jpg"
    assert normalize_storage_path("u1/doc/p.jpg", "u1") == "doc/p.jpg"
    assert normalize_storage_path("doc/p.jpg", "u1") == "doc/p.jpg"
    assert normalize_storage_path("u2/doc.jpg", "u1") == "u2/doc.jpg"
    assert normalize_storage_path(None, "u1") is None


def test_e13_rate_limit_countdown():
    from v2_ocr_spark.kernels.textfns import rate_limit_countdown

    assert rate_limit_countdown(60, 0) == 60
    assert rate_limit_countdown(60, 59_500) == 1
    assert rate_limit_countdown(60, 60_000) == 0
    assert rate_limit_countdown(60, 99_000) == 0
    assert rate_limit_countdown(1.5, 400) == 2  # ceil((1500-400)/1000)


def test_rows_only_queries_are_documented():
    """CLAUDE.md invariant, enforced mechanically: every queries()
    entry lacking an oracle_sql() twin must appear in the rows-only
    exception inventory comment inside __spark_entry__.py."""
    import inspect

    import __spark_entry__ as entry_mod

    rows_only = set(entry_mod.queries()) - set(entry_mod.oracle_sql())
    src = inspect.getsource(entry_mod)
    inventory = src[src.index("rows-only exceptions"):]
    inventory = inventory[:inventory.index("return _compose_combos")]
    import re as _re

    documented = {
        w for w in _re.findall(r"[a-z_][a-z0-9_]+", inventory)
        if w in entry_mod.queries()
    }
    # exact equality both ways: undocumented entries AND stale
    # inventory rows (a name that later gained an oracle) both fail
    assert documented == rows_only, (
        f"undocumented: {sorted(rows_only - documented)}; "
        f"stale: {sorted(documented - rows_only)}"
    )
