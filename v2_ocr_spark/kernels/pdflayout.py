"""E16 — PDF layout parsing: text boxes -> reading-order text.

The north-star pipeline includes "PDF layout parsing" next to HTML
stripping.  The reference's analog is the region->line->word
reassembly of structured OCR output (microsoft.ts:56-84) — geometry in,
ordered text out.  Here the geometry is PDF-style: the turn's text
payload carries a JSON page of positioned text boxes

    {"page": {"w": W, "h": H},
     "boxes": [{"x0":..,"y0":..,"x1":..,"y1":..,"text":..}, ...]}

with the PDF convention that y grows UPWARD (y1 = top of box).  The
binary-PDF -> boxes step (pdfminer.six's LTTextBox extraction) is
environment-gated: ``boxes_from_pdf_bytes`` raises NotImplementedError
unless pdfminer is importable — the layout algorithm itself is fully
real and tested.

Reading-order algorithm (deterministic, float-threshold free where it
matters — all comparisons on the same JSON-decoded floats both in the
kernel and in any reimplementation):

  1. Drop boxes whose text collapses to "".
  2. Column cut (one level of the classic XY-cut): project boxes onto
     x; merge overlapping [x0,x1] intervals; if >= 2 merged clusters
     are separated by gutters wider than 4% of page width, each
     cluster is a column, processed left -> right.
  3. Per column, cluster boxes into LINES: sort by (-y_center, x0);
     a box joins the current line iff its y-center is within half the
     running line height of the line's mean y-center.  Boxes within a
     line sort by x0 and join with " ".
  4. Lines stack top -> bottom; a PARAGRAPH break is inserted when the
     vertical gap between consecutive lines exceeds 80% of the median
     line height (else "\n").  Paragraphs join with "\n\n"; columns
     join with "\n\n".
  5. Spans: one per paragraph, kind="pdf_block".

Malformed / non-JSON payloads yield ("", []) — the same null-tolerance
as the blocks kernel (reference regions?.. || "").
"""

from __future__ import annotations

import json

try:  # orjson parses ~6x faster; plain json is the fallback everywhere
    import orjson as _fastjson
except ImportError:  # pragma: no cover - orjson is in the image
    _fastjson = None



def _loads(payload: str):
    """JSON parse with the stdlib ACCEPT-SET: orjson first (fast path),
    stdlib retry on its stricter rejections (NaN/Infinity literals,
    >64-bit ints) so malformed-payload classification never shifts."""
    if _fastjson is not None:
        try:
            return _fastjson.loads(payload)
        except ValueError:
            pass
    return json.loads(payload)

GUTTER_FRAC = 0.04  # min gutter width, as a fraction of page width
PARA_GAP_FRAC = 0.8  # paragraph break when gap > this * median line height

# whitespace collapse is a parity-sensitive primitive shared with the
# HTML kernel — ONE definition so a semantics fix can never land in
# only one of them
from v2_ocr_spark.kernels.htmlx import _collapse  # noqa: E402


def _parse_boxes(payload: str | None):
    """payload -> (page_w, clean box list) or None when malformed."""
    if not payload:
        return None
    try:
        doc = _loads(payload)
    except (ValueError, TypeError):
        return None
    if not isinstance(doc, dict):
        return None
    raw = doc.get("boxes")
    if not isinstance(raw, list):
        return None
    page = doc.get("page")
    if not isinstance(page, dict):
        # a truthy non-dict page ({"page": 612}) must fall back, not
        # AttributeError out of page.get below — totality contract
        page = {}
    boxes = []
    append = boxes.append
    for b in raw:
        if not isinstance(b, dict):
            continue
        try:
            # JSON numbers arrive as float/int already — float() only
            # for the str/bool stragglers (same accept-set as before)
            x0, y0 = b["x0"], b["y0"]
            x1, y1 = b["x1"], b["y1"]
            if type(x0) is not float:
                x0 = float(x0)
            if type(y0) is not float:
                y0 = float(y0)
            if type(x1) is not float:
                x1 = float(x1)
            if type(y1) is not float:
                y1 = float(y1)
        except (KeyError, TypeError, ValueError):
            continue
        text = b.get("text") or ""
        if type(text) is not str:
            text = str(text)
        text = _collapse(text)
        if text:
            append((x0, y0, x1, y1, text))
    try:
        page_w = float(page.get("w", 612.0))
    except (TypeError, ValueError):
        page_w = 612.0
    return page_w, boxes


def _columns(boxes, page_w):
    """One-level X-cut: group boxes into columns split at wide gutters."""
    if not boxes:
        return []
    iv = sorted((b[0], b[2]) for b in boxes)
    clusters: list[list[float]] = [[iv[0][0], iv[0][1]]]
    for x0, x1 in iv[1:]:
        if x0 <= clusters[-1][1] + GUTTER_FRAC * page_w:
            clusters[-1][1] = max(clusters[-1][1], x1)
        else:
            clusters.append([x0, x1])
    if len(clusters) == 1:
        return [boxes]
    cols: list[list] = [[] for _ in clusters]
    for b in boxes:
        xc = (b[0] + b[2]) / 2.0
        for i, (lo, hi) in enumerate(clusters):
            if xc <= hi or i == len(clusters) - 1:
                cols[i].append(b)
                break
    return [c for c in cols if c]


def _lines(boxes):
    """Cluster one column's boxes into reading-order lines.

    Hot path (per-turn kernel): key tuples + C-level sorts instead of
    lambda keys, running cluster state in locals instead of per-line
    dicts. Float arithmetic is EXPRESSION-IDENTICAL to the readable
    formulation (yc running mean, max-height), and sorting on
    -(y0 + y1) is order-equal to -(y0 + y1)/2 because dividing by two
    is exact in binary floating point; the trailing input index
    reproduces the stable-sort tie order."""
    order = sorted(
        (-(b[1] + b[3]), b[0], b[2], b[4], i) for i, b in enumerate(boxes)
    )
    lines: list[tuple[list, float]] = []  # (member boxes, line height)
    cur: list | None = None
    cur_yc = cur_h = 0.0
    for _neg2yc, _x0, _x1, _text, i in order:
        b = boxes[i]
        yc = (b[1] + b[3]) / 2.0
        h = b[3] - b[1]
        if cur is not None and abs(yc - cur_yc) <= 0.5 * max(cur_h, h):
            cur.append(b)
            cur_yc += (yc - cur_yc) / len(cur)  # running mean
            if h > cur_h:
                cur_h = h
        else:
            if cur is not None:
                lines.append((cur, cur_h))
            cur, cur_yc, cur_h = [b], yc, h
    if cur is not None:
        lines.append((cur, cur_h))
    out = []
    for members, h in lines:
        bs = sorted((m[0], m[2], m[4], j) for j, m in enumerate(members))
        out.append(
            (
                " ".join(t[2] for t in bs),          # text
                max(m[3] for m in members),          # top
                min(m[1] for m in members),          # bottom
                h,                                   # height
            )
        )
    return out


def _paragraphs(lines) -> list[str]:
    """Lines (text, top, bottom, height) -> paragraph texts, breaking
    on wide vertical gaps."""
    if not lines:
        return []
    heights = sorted(ln[3] for ln in lines)
    med_h = heights[len(heights) // 2]
    paras: list[list[str]] = [[lines[0][0]]]
    for prev, cur in zip(lines, lines[1:]):
        gap = prev[2] - cur[1]
        if gap > PARA_GAP_FRAC * med_h:
            paras.append([cur[0]])
        else:
            paras[-1].append(cur[0])
    return ["\n".join(p) for p in paras]


def layout_text(payload: str | None) -> tuple[str, list[tuple[int, int, str]]]:
    """Scalar E16 kernel: JSON page of boxes -> (text, paragraph spans)."""
    parsed = _parse_boxes(payload)
    if parsed is None:
        return "", []
    page_w, boxes = parsed
    paras: list[str] = []
    for col in _columns(boxes, page_w):
        paras.extend(_paragraphs(_lines(col)))
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for p in paras:
        end = pos + len(p)
        spans.append((pos, end, "pdf_block"))
        pos = end + 2
    return "\n\n".join(paras), spans


def boxes_from_pdf_bytes(data: bytes) -> list[dict]:
    """Binary PDF -> text boxes via pdfminer.six (environment-gated).

    The sandbox image ships no pdfminer; on a real cluster install
    pdfminer.six and this decode step lights up with no other change —
    the layout algorithm above is the tested, real component.
    """
    try:
        from pdfminer.high_level import extract_pages  # noqa: F401
        from pdfminer.layout import LTTextContainer
    except ImportError as exc:  # pragma: no cover - environment gate
        raise NotImplementedError(
            "pdfminer.six not installed in this environment"
        ) from exc
    import io  # pragma: no cover - exercised only with pdfminer present

    out: list[dict] = []  # pragma: no cover
    for page in extract_pages(io.BytesIO(data)):  # pragma: no cover
        for el in page:
            if isinstance(el, LTTextContainer):
                out.append(
                    {
                        "x0": el.x0,
                        "y0": el.y0,
                        "x1": el.x1,
                        "y1": el.y1,
                        "text": el.get_text(),
                    }
                )
    return out  # pragma: no cover
