"""E1 — markdown/boilerplate cleanup of extracted text.

Reproduces, byte-for-byte, the reference cleanup applied to each OCR
page's markdown (reference: lib/ocr/providers/mistral.ts:208-219; an
identical copy lives at mistral.ts:549-560):

    markdown
      .replace(/!\\[.*?\\]\\(.*?\\)/g, "")                      # image refs
      .replace(/\\$\\$([\\s\\S]*?)\\$\\$/g, "$1")               # display math
      .replace(/\\\\begin\\{aligned\\}([\\s\\S]*?)\\\\end\\{aligned\\}/g, "$1")
      .trim()

with ``page.text || ""`` as the fallback when there is no markdown
(here: null text -> "").

Semantics pinned to JavaScript, not Python defaults:
  * JS ``.`` does NOT match newline (image-ref regex), ``[\\s\\S]`` does
    (math / aligned regexes) — mirrored exactly below.
  * JS ``String.prototype.trim`` strips the ECMA-262 WhiteSpace +
    LineTerminator set, which differs from Python ``str.strip()``
    (e.g. JS strips U+FEFF; Python does not, and Python strips
    U+001C..U+001F and U+0085, which JS does not). We trim the exact
    JS set (``JS_WS``).

Replacement order is load-bearing: image refs are removed BEFORE math
unwrapping (an image ref inside ``$$...$$`` is removed, then the math
delimiters unwrap what remains).
"""

from __future__ import annotations

import re

# ECMA-262 WhiteSpace (U+0009..U+000D handled via literals, U+0020,
# U+00A0, U+1680, U+2000..U+200A, U+202F, U+205F, U+3000, U+FEFF)
# plus LineTerminator (U+000A, U+000D, U+2028, U+2029).
JS_WS = (
    "\t\n\x0b\x0c\r "
    "\u00a0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000\ufeff"
)

# JS /!\[.*?\]\(.*?\)/g — JS '.' excludes the FULL LineTerminator set
# (\n, \r, U+2028, U+2029), not just \n like Python's '.', so the class
# is spelled out: '![a\rb](x)' must NOT match, exactly as in V8.
_JS_DOT = "[^\\n\\r\\u2028\\u2029]"
_IMAGE_REF = re.compile(rf"!\[{_JS_DOT}*?\]\({_JS_DOT}*?\)")
# JS /\$\$([\s\S]*?)\$\$/g — [\s\S] crosses newlines.
_DISPLAY_MATH = re.compile(r"\$\$([\s\S]*?)\$\$")
# JS /\\begin\{aligned\}([\s\S]*?)\\end\{aligned\}/g
_ALIGNED = re.compile(r"\\begin\{aligned\}([\s\S]*?)\\end\{aligned\}")

# Paragraph boundary for span emission: runs of 2+ newlines.
_PARA_SPLIT = re.compile(r"\n{2,}")


def js_trim(s: str) -> str:
    """Exact JavaScript ``String.prototype.trim`` semantics."""
    return s.strip(JS_WS)


def clean_markdown(text: str | None) -> str:
    """E1 cleanup of one turn; ``extract_markdown`` adds its spans."""
    if text is None:
        return ""
    # each pattern starts with a literal: without it there is no match
    # and the JS .replace returns its input, so the scan can be skipped
    if "![" in text:
        text = _IMAGE_REF.sub("", text)
    if "$$" in text:
        text = _DISPLAY_MATH.sub(r"\1", text)
    if "\\begin{aligned}" in text:
        text = _ALIGNED.sub(r"\1", text)
    return js_trim(text)


def paragraph_spans(cleaned: str) -> list[tuple[int, int, str]]:
    """Spans of kept paragraphs (maximal non-empty segments between
    blank-line runs) in the CLEANED output. The reference never emits
    char spans (its bounding_box column is always null,
    results-service.ts:101); paragraph offsets are the engine's analog
    of its block-level structure.
    """
    if "\n\n" not in cleaned:  # one paragraph, or none
        return [(0, len(cleaned), "paragraph")] if cleaned else []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for m in _PARA_SPLIT.finditer(cleaned):
        if m.start() > pos:
            spans.append((pos, m.start(), "paragraph"))
        pos = m.end()
    if pos < len(cleaned):
        spans.append((pos, len(cleaned), "paragraph"))
    return spans


def extract_markdown(text: str | None) -> tuple[str, list[tuple[int, int, str]]]:
    """Scalar E1 kernel: markdown -> (cleaned text, paragraph spans)."""
    cleaned = clean_markdown(text)
    return cleaned, paragraph_spans(cleaned)
