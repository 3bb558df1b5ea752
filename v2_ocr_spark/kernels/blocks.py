"""E3 — region/line/word text-block reassembly with RTL word reordering.

Reproduces the reference's reconstruction of structured OCR blocks
(reference: lib/ocr/providers/microsoft.ts:56-84):

  * RTL iff ``language.toLowerCase().split('-')[0]`` is in the RTL set
    (microsoft.ts:58-71).
  * Per line: words joined by " " — REVERSED first when RTL
    (microsoft.ts:79-80).
  * Lines joined by "\\n" per region (microsoft.ts:82); regions joined
    by "\\n\\n" (microsoft.ts:84); missing/empty regions -> "".

Input payload here is the turn's ``text`` column carrying a JSON
document shaped like MicrosoftVisionResponse
(reference: lib/ocr/providers/types.ts:10-21):

    {"language": "ar", "regions": [{"lines": [{"words": [{"text": ...}]}]}]}

Span emission: one span per region in the reassembled output,
kind="region" — the natural analog of the reference's region structure.
"""

from __future__ import annotations

import json

# microsoft.ts:58-68 — exact set.
RTL_LANGUAGES = frozenset(
    ["ar", "he", "fa", "ur", "syr", "n-bh", "sam", "mend", "man"]
)


def is_rtl(language: str | None) -> bool:
    if not language:
        return False
    return language.lower().split("-")[0] in RTL_LANGUAGES


def reassemble_blocks(payload: str | None) -> tuple[str, list[tuple[int, int, str]]]:
    """Scalar E3 kernel: JSON blocks -> (text, region spans).

    Malformed / non-JSON payloads reproduce the reference's
    ``regions ?. ... || ""`` null-tolerance: they yield "".
    """
    if not payload:
        return "", []
    try:
        doc = json.loads(payload)
    except (ValueError, TypeError):
        return "", []
    if not isinstance(doc, dict):
        return "", []
    regions = doc.get("regions")
    if not isinstance(regions, list):
        return "", []
    rtl = is_rtl(doc.get("language"))

    region_texts: list[str] = []
    for region in regions:
        lines = (region or {}).get("lines") or []
        line_texts = []
        for line in lines:
            words = (line or {}).get("words") or []
            if rtl:
                words = list(reversed(words))
            line_texts.append(" ".join((w or {}).get("text") or "" for w in words))
        region_texts.append("\n".join(line_texts))

    text = "\n\n".join(region_texts)
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for i, rt in enumerate(region_texts):
        end = pos + len(rt)
        spans.append((pos, end, "region"))
        pos = end + 2  # the "\n\n" joiner
    return text, spans

