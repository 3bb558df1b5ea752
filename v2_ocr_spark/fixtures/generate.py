"""Deterministic generator for the `transcripts` input table and its
side tables (FIXTURES.md).

Everything derives from a per-(conv_id, turn_idx) CRC32 so the data is
byte-stable regardless of iteration order, Python version, or platform
— no global RNG state. seed=42 is mixed into every hash.

Tables written per scale (sf0.001 / sf0.01 / sf0.1) under --out:

  transcripts(conv_id, turn_idx, role, text, tool, ts)
  transcripts_expected(conv_id, turn_idx, payload_kind, expected_text,
                       expected_spans array<struct<start,end,kind>>)
  conversations(conv_id, status, error, total_turns, created_at,
                processing_started_at, processing_completed_at,
                source_name, size_bytes)

The expected table is produced by the scalar kernels
(``kernels.SCALARS``) — the same functions the Spark mapInArrow pass
calls per row — while the hand-derived golden fixtures in
tests/fixtures/*.json independently pin the kernels themselves to the
reference's JS semantics.
"""

from __future__ import annotations

import argparse
import json
import os
import zlib
from datetime import datetime, timedelta, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from v2_ocr_spark.kernels import SCALARS
from v2_ocr_spark.kernels.htmlx import flatten_html, is_content

SEED = 42
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

SCALES = {
    "sf0.001": 200,
    "sf0.01": 2_000,
    "sf0.1": 20_000,
}
SKEW_TURNS = 10_000  # one pathological conversation per scale

ROLES = ["user", "assistant", "tool"]
TOOL_NAMES = ["search", "code", "fetch"]
STATUSES = [  # 7-status set, reference types/index.ts:33
    "completed", "completed", "completed", "completed", "completed",
    "completed", "queued", "processing", "error", "cancelled",
    "failed", "pending",
]

WORDS_EN = (
    "the quick brown fox jumps over a lazy dog while reading results "
    "from scanned pages of archival documents and extracting useful "
    "structured text blocks for downstream analysis pipelines"
).split()
WORDS_AR = (
    "النص العربي يحتاج إلى معالجة خاصة في الترتيب من اليمين إلى اليسار "
    "صفحة وثيقة استخراج تحليل نتائج معالجة"
).split()
WORDS_FA = "متن فارسی نیاز به پردازش ویژه دارد صفحه سند استخراج".split()

BLOCK_LANGS = ["ar", "fa", "he", "ur", "en", "fr", "ar-SA", "EN-us", "syr", "de"]


def _h(*parts) -> int:
    """Stable 32-bit hash of the parts, mixed with SEED."""
    key = ":".join(str(p) for p in parts).encode("utf-8")
    return zlib.crc32(key, SEED)


def _pick(seq, *parts):
    return seq[_h(*parts) % len(seq)]


def _sentence(bank, n, *parts) -> str:
    return " ".join(
        bank[_h(*parts, "w", i) % len(bank)] for i in range(n)
    )


def conv_len(conv_ord: int) -> int:
    """~geometric(mean 8), clipped [1, 64], stable per conversation."""
    u = (_h("len", conv_ord) % 10_000) / 10_000.0
    # inverse-CDF of geometric with p = 1/8
    import math

    k = int(math.log(max(1.0 - u, 1e-9)) / math.log(1.0 - 1.0 / 8.0)) + 1
    return max(1, min(64, k))


# --------------------------------------------------------------------
# payload generators — each branch covers a reference cleanup path
# --------------------------------------------------------------------

def gen_markdown(conv_id: str, turn_idx: int) -> str:
    h = _h("md", conv_id, turn_idx)
    variant = h % 14
    para = lambda i, n=8: _sentence(WORDS_EN, n, conv_id, turn_idx, "p", i)  # noqa: E731

    if variant == 0:  # plain paragraph, no markup
        return para(0)
    if variant == 1:  # image ref inline (removed, mistral.ts:212)
        return f"{para(0)} ![img-{h % 7}.jpeg](img-{h % 7}.jpeg) {para(1)}"
    if variant == 2:  # display math single-line (unwrapped)
        return f"{para(0)}\n\n$$E = mc^{h % 9}$$\n\n{para(1)}"
    if variant == 3:  # multi-line display math
        return f"{para(0)}\n\n$$\na^2 + b^2 = c^{h % 5}\n$$\n\n{para(1)}"
    if variant == 4:  # aligned block
        return (
            f"{para(0)}\n\n\\begin{{aligned}}x &= {h % 100}\\\\y &= "
            f"{h % 31}\\end{{aligned}}\n\n{para(1)}"
        )
    if variant == 5:  # leading/trailing JS whitespace incl NBSP + BOM
        return f"﻿   {para(0)}\t\n  "
    if variant == 6:  # image ref inside math (image removed first)
        return f"$$ {para(0, 3)} ![fig](u{h % 9}.png) $$"
    if variant == 7:  # empty string
        return ""
    if variant == 8:  # becomes empty after cleanup
        return f"  ![only-image]({h % 13}.jpg)  "
    if variant == 9:  # multiple image refs on one line
        return f"![a](1.png)![b](2.png) {para(0)} ![c](3.png)"
    if variant == 10:  # Arabic paragraph with math
        return f"{_sentence(WORDS_AR, 6, conv_id, turn_idx, 'ar')}\n\n$${h % 77}$$"
    if variant == 11:  # multi-paragraph, multiple spans
        return f"{para(0)}\n\n{para(1, 5)}\n\n{para(2, 6)}"
    if variant == 12:  # unterminated $$ (no match — stays literal)
        return f"{para(0)} $$ {para(1, 3)}"
    # variant 13: aligned + math + image mixed
    return (
        f"![x]({h % 3}.gif)$$\\begin{{aligned}}z &= {h % 8}"
        f"\\end{{aligned}}$$ {para(0, 4)}"
    )


def gen_blocks(conv_id: str, turn_idx: int) -> str:
    h = _h("blk", conv_id, turn_idx)
    lang = _pick(BLOCK_LANGS, conv_id, turn_idx, "lang")
    rtlish = lang.lower().split("-")[0] in ("ar", "fa", "he", "ur", "syr")
    # fa must pick the Farsi bank (it IS rtlish, so test it first —
    # the old ternary order made the WORDS_FA branch unreachable)
    bank = WORDS_FA if lang == "fa" else (WORDS_AR if rtlish else WORDS_EN)
    variant = h % 8

    if variant == 0:  # no regions key at all
        return json.dumps({"language": lang}, ensure_ascii=False)
    if variant == 1:  # empty regions list
        return json.dumps({"language": lang, "regions": []}, ensure_ascii=False)

    n_regions = 1 + _h(conv_id, turn_idx, "nr") % 3
    regions = []
    for r in range(n_regions):
        if variant == 2 and r == 0:
            regions.append({"lines": []})  # region with no lines
            continue
        n_lines = 1 + _h(conv_id, turn_idx, "nl", r) % 3
        lines = []
        for li in range(n_lines):
            n_words = 1 + _h(conv_id, turn_idx, "nw", r, li) % 6
            words = [
                {"text": bank[_h(conv_id, turn_idx, r, li, w) % len(bank)]}
                for w in range(n_words)
            ]
            if variant == 3 and li == 0:
                # words with digits (Arabic-Indic display cases, E6)
                words.append({"text": str(_h(conv_id, turn_idx, r, li) % 1000)})
            lines.append({"words": words})
        regions.append({"lines": lines})
    return json.dumps(
        {"language": lang, "regions": regions}, ensure_ascii=False
    )


def gen_plain(conv_id: str, turn_idx: int) -> str:
    h = _h("pl", conv_id, turn_idx)
    variant = h % 10
    if variant == 0:
        return ""
    if variant == 1:
        return "   \t  "  # whitespace-only, preserved byte-identical
    if variant == 2:  # mixed-direction text
        return (
            f"{_sentence(WORDS_EN, 4, conv_id, turn_idx, 'm1')} "
            f"{_sentence(WORDS_AR, 4, conv_id, turn_idx, 'm2')}"
        )
    if variant == 3 and h % 97 == 0:  # very long (~64 KB), rare
        return _sentence(WORDS_EN, 10, conv_id, turn_idx, "long") * 700
    if variant == 4:
        return _sentence(WORDS_FA, 7, conv_id, turn_idx, "fa")
    return _sentence(WORDS_EN, 5 + h % 20, conv_id, turn_idx, "en")


def gen_html(conv_id: str, turn_idx: int) -> str:
    h = _h("html", conv_id, turn_idx)
    para = lambda i, n=10: _sentence(WORDS_EN, n, conv_id, turn_idx, "hp", i)  # noqa: E731
    links = lambda k: " ".join(  # noqa: E731
        f'<a href="/p{j}">{_sentence(WORDS_EN, 2, conv_id, turn_idx, "lk", j)}</a>'
        for j in range(k)
    )
    variant = h % 14

    if variant == 0:  # full page: head/style skipped, nav+footer boiler
        return (
            f"<html><head><title>T{h % 9}</title><style>p{{x}}</style></head>"
            f"<body><nav>{links(3)}</nav><article><h1>Title {h % 50}</h1>"
            f"<p>{para(0)}</p><p>{para(1, 12)}</p></article>"
            f"<footer>© {2000 + h % 26} corp</footer></body></html>"
        )
    if variant == 1:  # link farm div (dropped) + one real paragraph
        return f"<div>{links(5)}</div><p>{para(0)}</p>"
    if variant == 2:  # tagless text (single body block)
        return para(0, 12)
    if variant == 3:  # list items, some below the li threshold
        return (
            f"<ul><li>{para(0, 4)}</li><li>ok</li>"
            f"<li>{para(1, 6)}</li></ul>"
        )
    if variant == 4:  # malformed: unclosed p, stray close
        return f"<p>{para(0)}</div><p>{para(1, 5)}"
    if variant == 5:  # entities + comment
        return (
            f"<p>{para(0, 6)} &amp; more &lt;tags&gt; &#8212; end</p>"
            f"<!-- hidden comment -->"
        )
    if variant == 6:  # Arabic content paragraph
        return (
            f"<article><p>{_sentence(WORDS_AR, 8, conv_id, turn_idx, 'har')}"
            f"</p></article>"
        )
    if variant == 7:  # table cells
        return (
            f"<table><tr><td>{para(0, 5)}</td><td>{para(1, 5)}</td></tr>"
            f"<tr><td>n{h % 10}</td></tr></table>"
        )
    if variant == 8:  # pre + blockquote
        return (
            f"<pre>x = {h % 100}\ny = {h % 31}</pre>"
            f"<blockquote>{para(0, 7)}</blockquote>"
        )
    if variant == 9:  # link-heavy paragraph (density borderline)
        return f"<p>{para(0, 3)} {links(4)}</p>"
    if variant == 10:
        return ""
    if variant == 11:  # boilerplate only
        return (
            f"<aside>{para(0, 6)}</aside>"
            f"<form><label>q</label><button>go {h % 5}</button></form>"
        )
    if variant == 12:  # nested divs with inline markup
        return (
            f"<div><div><p>{para(0, 4)} <b>bold</b> <i>it</i> "
            f"{para(1, 6)}</p></div><script>var x={h % 7};</script></div>"
        )
    # variant 13: heading + short p + br-split block
    return (
        f"<h2>Part {h % 12}</h2><p>tiny</p>"
        f"<div>{para(0, 5)}<br>{para(1, 5)}</div>"
    )


def gen_pdf_layout(conv_id: str, turn_idx: int) -> str:
    h = _h("pdf", conv_id, turn_idx)
    variant = h % 10
    line = lambda i, n=5: _sentence(WORDS_EN, n, conv_id, turn_idx, "pl", i)  # noqa: E731

    def box(x0, y_top, text, width=200.0, height=12.0):
        return {
            "x0": float(x0), "y0": float(y_top - height),
            "x1": float(x0 + width), "y1": float(y_top), "text": text,
        }

    if variant == 5:  # malformed JSON
        return '{"page": {"w": 612}, "boxes": [{"x0": 72,'
    if variant == 4:  # no boxes
        return json.dumps({"page": {"w": 612, "h": 792}, "boxes": []})

    boxes = []
    if variant == 1:  # two columns
        for i in range(3):
            boxes.append(box(72, 700 - 14 * i, line(i), width=200))
            boxes.append(box(340, 700 - 14 * i, line(10 + i), width=200))
    elif variant == 3:  # same-line split boxes
        boxes.append(box(72, 700, line(0, 3), width=120))
        boxes.append(box(200, 700, line(1, 3), width=120))
        boxes.append(box(72, 660, line(2), width=300))
    elif variant == 6:  # whitespace boxes dropped among real ones
        boxes.append(box(72, 700, "   ", width=50))
        boxes.append(box(72, 680, line(0), width=250))
        boxes.append(box(72, 666, line(1), width=250))
    elif variant == 9:  # single box
        boxes.append(box(72, 700, line(0, 8), width=400))
    else:  # single column, paragraph gap after line 2
        n_lines = 3 + h % 4
        y = 700.0
        for i in range(n_lines):
            boxes.append(box(72, y, line(i)))
            y -= 40.0 if i == 1 else 14.0
    if variant == 2:  # same content, shuffled box order
        boxes.sort(key=lambda b: _h(conv_id, turn_idx, "shuf", b["y1"], b["x0"]))
    return json.dumps({"page": {"w": 612, "h": 792}, "boxes": boxes})


def payload_kind(conv_id: str, turn_idx: int, role: str) -> str:
    """Kind is a function of role (the engine's dispatch contract,
    operators/extract.py): assistant turns carry markdown, user turns
    plain text, tool turns declare their kind in the tool column."""
    if role == "assistant":
        return "markdown"
    if role == "user":
        return "plain"
    r = _h("kind", conv_id, turn_idx) % 100
    if r < 40:
        return "blocks_rtl"
    if r < 60:
        return "markdown"
    if r < 78:
        return "html"
    if r < 92:
        return "pdf_layout"
    return "plain"


GEN = {
    "markdown": gen_markdown,
    "blocks_rtl": gen_blocks,
    "plain": gen_plain,
    "html": gen_html,
    "pdf_layout": gen_pdf_layout,
}


def expected_for(kind: str, text: str) -> tuple[str, list[dict]]:
    """Expected (text, spans) of one turn through its scalar kernel —
    the table the extraction pass dispatches on — with spans as struct
    dicts."""
    cleaned, spans, *_ = SCALARS[kind](text)
    return cleaned, [{"start": s, "end": e, "kind": k} for s, e, k in spans]


def html_stats_for(kind: str, text: str) -> tuple:
    """Expected DOM-node-table stats for html turns (oracle for the
    flattened-node route, operators/dom.py): (blocks, kept, kept_chars,
    link_chars); all-None for non-html turns."""
    if kind != "html":
        return None, None, None, None
    nodes = flatten_html(text)
    kept = [
        nd for nd in nodes
        if is_content(nd["tag"], nd["boiler"], nd["n_chars"], nd["link_chars"])
    ]
    return (
        len(nodes),
        len(kept),
        sum(nd["n_chars"] for nd in kept),
        sum(nd["link_chars"] for nd in nodes),
    )


# --------------------------------------------------------------------
# table builders
# --------------------------------------------------------------------

SPAN_TYPE = pa.list_(
    pa.struct(
        [("start", pa.int32()), ("end", pa.int32()), ("kind", pa.string())]
    )
)


def build_scale(n_convs: int) -> tuple[pa.Table, pa.Table, pa.Table]:
    t_rows = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    e_rows = {
        k: []
        for k in ("conv_id", "turn_idx", "payload_kind", "expected_text",
                  "expected_spans", "html_blocks", "html_kept",
                  "html_kept_chars", "html_link_chars")
    }
    c_rows = {
        k: []
        for k in ("conv_id", "status", "error", "total_turns", "created_at",
                  "processing_started_at", "processing_completed_at",
                  "source_name", "size_bytes")
    }

    for ordinal in range(n_convs + 1):  # +1: the skew conversation
        conv_id = f"conv{ordinal:08d}" if ordinal < n_convs else "convskew00"
        n_turns = conv_len(ordinal) if ordinal < n_convs else SKEW_TURNS
        base_ts = EPOCH + timedelta(seconds=ordinal * 3600)
        size_total = 0

        for turn_idx in range(1, n_turns + 1):
            role = ROLES[(turn_idx - 1) % 3]
            kind = payload_kind(conv_id, turn_idx, role)
            text = GEN[kind](conv_id, turn_idx)
            tool = None
            if role == "tool":
                name = _pick(TOOL_NAMES, conv_id, turn_idx, "tool")
                tool = f"{name} extract:{kind}"
            ts = base_ts + timedelta(seconds=turn_idx * 7)

            t_rows["conv_id"].append(conv_id)
            t_rows["turn_idx"].append(turn_idx)
            t_rows["role"].append(role)
            t_rows["text"].append(text)
            t_rows["tool"].append(tool)
            t_rows["ts"].append(ts)

            cleaned, spans = expected_for(kind, text)
            nb, nk, kc, lc = html_stats_for(kind, text)
            e_rows["conv_id"].append(conv_id)
            e_rows["turn_idx"].append(turn_idx)
            e_rows["payload_kind"].append(kind)
            e_rows["expected_text"].append(cleaned)
            e_rows["expected_spans"].append(spans)
            e_rows["html_blocks"].append(nb)
            e_rows["html_kept"].append(nk)
            e_rows["html_kept_chars"].append(kc)
            e_rows["html_link_chars"].append(lc)
            size_total += len(text.encode("utf-8"))

        status = _pick(STATUSES, "st", conv_id)
        started = status in ("processing", "completed", "error", "cancelled",
                             "failed")
        done = status in ("completed", "error", "cancelled", "failed")
        dur = 1 + _h("dur", conv_id) % 300
        name_pool = [
            "report {n}.pdf", "  scan_{n}.tiff", "ملف {n} عربي.pdf",
            'bad<name>:{n}?.txt', "...dotted {n}.md", "گزارش {n}.pdf",
            "archive.{n}.v2.tar.gz", "plain{n}",
        ]
        c_rows["conv_id"].append(conv_id)
        c_rows["status"].append(status)
        c_rows["error"].append(
            f"extract failed: code {_h('err', conv_id) % 500}"
            if status == "error" else None
        )
        c_rows["total_turns"].append(n_turns)
        c_rows["created_at"].append(base_ts)
        c_rows["processing_started_at"].append(
            base_ts + timedelta(seconds=5) if started else None
        )
        c_rows["processing_completed_at"].append(
            base_ts + timedelta(seconds=5 + dur) if done else None
        )
        c_rows["source_name"].append(
            _pick(name_pool, "nm", conv_id).replace("{n}", str(ordinal))
        )
        c_rows["size_bytes"].append(size_total)

    transcripts = pa.table(
        {
            "conv_id": pa.array(t_rows["conv_id"], pa.string()),
            "turn_idx": pa.array(t_rows["turn_idx"], pa.int32()),
            "role": pa.array(t_rows["role"], pa.string()),
            "text": pa.array(t_rows["text"], pa.string()),
            "tool": pa.array(t_rows["tool"], pa.string()),
            "ts": pa.array(t_rows["ts"], pa.timestamp("us", tz="UTC")),
        }
    )
    expected = pa.table(
        {
            "conv_id": pa.array(e_rows["conv_id"], pa.string()),
            "turn_idx": pa.array(e_rows["turn_idx"], pa.int32()),
            "payload_kind": pa.array(e_rows["payload_kind"], pa.string()),
            "expected_text": pa.array(e_rows["expected_text"], pa.string()),
            "expected_spans": pa.array(e_rows["expected_spans"], SPAN_TYPE),
            "html_blocks": pa.array(e_rows["html_blocks"], pa.int32()),
            "html_kept": pa.array(e_rows["html_kept"], pa.int32()),
            "html_kept_chars": pa.array(e_rows["html_kept_chars"], pa.int64()),
            "html_link_chars": pa.array(e_rows["html_link_chars"], pa.int64()),
        }
    )
    conversations = pa.table(
        {
            "conv_id": pa.array(c_rows["conv_id"], pa.string()),
            "status": pa.array(c_rows["status"], pa.string()),
            "error": pa.array(c_rows["error"], pa.string()),
            "total_turns": pa.array(c_rows["total_turns"], pa.int32()),
            "created_at": pa.array(c_rows["created_at"],
                                   pa.timestamp("us", tz="UTC")),
            "processing_started_at": pa.array(
                c_rows["processing_started_at"], pa.timestamp("us", tz="UTC")
            ),
            "processing_completed_at": pa.array(
                c_rows["processing_completed_at"], pa.timestamp("us", tz="UTC")
            ),
            "source_name": pa.array(c_rows["source_name"], pa.string()),
            "size_bytes": pa.array(c_rows["size_bytes"], pa.int64()),
        }
    )
    return transcripts, expected, conversations


def generate_all(out_dir: str, scales: dict[str, int] | None = None) -> None:
    for sf, n_convs in (scales or SCALES).items():
        d = os.path.join(out_dir, sf)
        os.makedirs(d, exist_ok=True)
        transcripts, expected, conversations = build_scale(n_convs)
        # small row groups give the scan natural byte-range split points —
        # the local stand-in for a 100 TB table's many files/row groups
        pq.write_table(transcripts, os.path.join(d, "transcripts.parquet"),
                       row_group_size=4096)
        pq.write_table(expected, os.path.join(d, "transcripts_expected.parquet"),
                       row_group_size=4096)
        pq.write_table(conversations, os.path.join(d, "conversations.parquet"))
        print(
            f"{sf}: transcripts={transcripts.num_rows} "
            f"convs={conversations.num_rows}"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/root/repo/data")
    args = ap.parse_args()
    generate_all(args.out)


if __name__ == "__main__":
    main()
