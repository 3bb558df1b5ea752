"""Golden-fixture tests for the E15 HTML and E16 PDF-layout kernels.

Expectations in tests/fixtures/e15_html.json / e16_pdf_layout.json are
HAND-derived from the kernel specs (module docstrings) — never
regenerated from the kernels themselves.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from v2_ocr_spark.kernels import KERNELS
from v2_ocr_spark.kernels.htmlx import (
    extract_html,
    flatten_html,
    is_content,
    is_content_mask,
)
from v2_ocr_spark.kernels.pdflayout import layout_text

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def load(name):
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        return json.load(f)


E15 = load("e15_html.json")
E16 = load("e16_pdf_layout.json")


@pytest.mark.parametrize("case", E15["cases"], ids=lambda c: c["name"])
def test_e15_html_scalar(case):
    text, spans = extract_html(case["input"])
    assert text == case["expected"]
    assert [list(s) for s in spans] == case["spans"]


@pytest.mark.parametrize("case", E15["flatten_cases"], ids=lambda c: c["name"])
def test_e15_flatten_nodes(case):
    assert flatten_html(case["input"]) == case["nodes"]


def test_e15_vectorized_matches_scalar():
    inputs = [c["input"] for c in E15["cases"]] + [None]
    texts, spans, nodes = KERNELS["html"](pd.Series(inputs, dtype=object))
    for i, val in enumerate(inputs):
        t, s = extract_html(val)
        assert texts.iloc[i] == t
        assert spans.iloc[i] == s
        assert nodes.iloc[i] == len(flatten_html(val))


def test_e15_spans_slice_back_to_block_text():
    for case in E15["cases"]:
        text, spans = extract_html(case["input"])
        for start, end, _tag in spans:
            assert text[start:end] == text[start:end].strip()
            assert len(text[start:end]) == end - start
        # spans tile the output with the "\n\n" joiners between them
        if spans:
            rebuilt = "\n\n".join(text[s:e] for s, e, _ in spans)
            assert rebuilt == text


def test_e15_is_content_mask_matches_scalar_rule():
    nodes = []
    for case in E15["cases"]:
        nodes.extend(flatten_html(case["input"]))
    df = pd.DataFrame(nodes)
    if df.empty:
        pytest.skip("no nodes")
    mask = is_content_mask(df)
    for i, nd in enumerate(nodes):
        assert mask.iloc[i] == is_content(
            nd["tag"], nd["boiler"], nd["n_chars"], nd["link_chars"]
        )


def test_e15_none_and_non_string():
    assert extract_html(None) == ("", [])
    assert extract_html("") == ("", [])


# fast tokenizer path vs the html.parser reference implementation —
# must agree node-for-node on goldens, fixtures and adversarial markup.
# Known, documented divergence: an UNTERMINATED comment/decl at EOF is
# consumed silently by the fast path, while html.parser flushes the
# partial markup as text at close(); the fast behavior is pinned here.
_ADVERSARIAL = [
    "no tags", "<P>UPPER</P>",
    '<a href="x>y">quoted gt enough characters here ok</a>',
    '<script>var s = "<p>not a tag</p>";</script><p>real paragraph kept</p>',
    '<style>p:before{content:"<div>"}</style><p>kept paragraph here</p>',
    '<p>unterminated <div foo="bar',
    "<p>stray < lt and 5 < 6 in a long enough paragraph</p>",
    "<!DOCTYPE html><p>doctype then long enough paragraph of text</p>",
    "<![CDATA[ raw <p>x</p> ]]><p>after cdata long enough paragraph</p>",
    '<?php echo "<p>hi</p>"; ?><p>after pi long enough paragraph text</p>',
    "</><p>bogus end then long enough paragraph of words</p>",
    "<p>entity &amp; &lt; &gt; &#65; &unknown; mixed into paragraph</p>",
    "<br><br/><hr/><p>voids then a long enough paragraph of text here</p>",
    '<SCRIPT SRC="x">ignored</SCRIPT><p>case-insensitive rawtext close</p>',
    "<script>never closed", "<a>link text</a>", "<ul><li>item</li><div>",
    "<p a=1 b = \"2\" c='3'>unquoted and quoted attrs in paragraph</p>",
    "<p>tab\tand\nnewline   runs  collapse in this long paragraph</p>",
    "<p>&#x62;hex charref in a sufficiently long paragraph text</p>",
    "< notag really, just text that is long enough to keep around</p>",
    "<div/><p>self-closing div then long enough paragraph</p>",
    "<p>a&b unterminated amp in this long enough paragraph &",
    "<em>inline only but long enough to pass the char bar easily</em>",
    "<p>one</p ><p>sloppy close bracket long enough paragraph text</p>",
]


def test_e15_fast_path_matches_html_parser_reference():
    from v2_ocr_spark.kernels.htmlx import flatten_html_ref

    inputs = [c["input"] for c in E15["cases"]] + _ADVERSARIAL
    for s in inputs:
        assert flatten_html(s) == flatten_html_ref(s), s


def test_e15_unterminated_comment_divergence_pinned():
    """The one intended fast-path divergence from html.parser."""
    s = "<!-- unterminated comment <p>x</p>"
    assert flatten_html(s) == []  # consumed silently, no phantom text
    assert flatten_html(s + "-->") == []  # terminated: both agree
    from v2_ocr_spark.kernels.htmlx import flatten_html_ref

    assert flatten_html_ref(s + "-->") == []


@pytest.mark.parametrize("case", E16["cases"], ids=lambda c: c["name"])
def test_e16_pdf_layout_scalar(case):
    text, spans = layout_text(case["input"])
    assert text == case["expected"]
    assert [list(s) for s in spans] == case["spans"]


def test_e16_vectorized_matches_scalar():
    inputs = [c["input"] for c in E16["cases"]] + [None]
    texts, spans = KERNELS["pdf_layout"](pd.Series(inputs, dtype=object))
    for i, val in enumerate(inputs):
        t, s = layout_text(val)
        assert texts.iloc[i] == t
        assert spans.iloc[i] == s


def test_e16_box_list_order_invariance():
    """Reading order comes from geometry, not input order."""
    boxes = [
        {"x0": 72, "y0": 688, "x1": 272, "y1": 700, "text": "first line"},
        {"x0": 72, "y0": 674, "x1": 272, "y1": 686, "text": "second line"},
        {"x0": 72, "y0": 620, "x1": 272, "y1": 632, "text": "second para"},
    ]
    fwd = layout_text(json.dumps({"page": {"w": 612}, "boxes": boxes}))
    rev = layout_text(json.dumps({"page": {"w": 612}, "boxes": boxes[::-1]}))
    assert fwd == rev
    assert fwd[0] == "first line\nsecond line\n\nsecond para"


def test_e16_pdfminer_gate():
    from v2_ocr_spark.kernels.pdflayout import boxes_from_pdf_bytes

    try:
        import pdfminer  # noqa: F401

        pytest.skip("pdfminer present; decode path is live")
    except ImportError:
        with pytest.raises(NotImplementedError):
            boxes_from_pdf_bytes(b"%PDF-1.4")


def test_tokenizer_quote_junk_is_linear_time():
    """Review regression (r4): a tag candidate full of quotes with no
    closing '>' used to trigger exponential regex backtracking
    (~2.6x per two quotes — a 123-byte payload could spin an executor
    task for hours). The atomic attr alternation must stay linear."""
    import time

    from v2_ocr_spark.kernels.htmlx import flatten_html

    payload = "<a " + '"x' * 400  # 2x the measured blow-up point
    t0 = time.perf_counter()
    flatten_html(payload)
    assert time.perf_counter() - t0 < 1.0


def test_tokenizer_end_tag_and_rawtext_parity_cases():
    """Review regression (r4): cases OUTSIDE the _divergent_markup junk
    guard where the fast path used to diverge from html.parser —
    loose rawtext closers ('</scriptx>', '</script foo>' keep the
    reference in rawtext) and leading-ws-plus-junk end tags
    ('</ a y>' is a bogus comment, not an end tag)."""
    from v2_ocr_spark.kernels.htmlx import flatten_html, flatten_html_ref

    cases = [
        "<script>a</scriptx>b</script>"
        "<p>Body text twenty five characters here</p>",
        "<style>.x{}</style foo>real</style>"
        "<p>Body text twenty five chars ok</p>",
        "<a href=x>link</ a y>"
        "<p>Body text twenty five characters here</p>",
        "</ div x>text here that is long enough to form a block",
        "</div x>text here that is long enough to form a block",
    ]
    for s in cases:
        assert flatten_html(s) == flatten_html_ref(s), s


def test_parse_boxes_nondict_page_falls_back():
    """Review regression (r4): a truthy non-dict 'page' value must fall
    back to defaults, not AttributeError out of the totality contract."""
    from v2_ocr_spark.kernels.pdflayout import layout_text

    for payload in ('{"page": 612, "boxes": []}',
                    '{"page": "letter", "boxes": ['
                    '{"x0":0,"y0":0,"x1":10,"y1":10,"text":"hi"}]}'):
        text, spans = layout_text(payload)
        assert isinstance(text, str)
