"""E4 — passthrough extraction.

Reproduces the reference's Google-provider path, which emits the
detected full text verbatim (reference: lib/ocr/providers/google.ts:50-70
— ``fullTextAnnotation.text`` is returned byte-identical, no cleanup).

Span emission: a single whole-string span, kind="text", for non-empty
payloads (the passthrough keeps exactly one block).
"""

from __future__ import annotations


def passthrough(text: str | None) -> tuple[str, list[tuple[int, int, str]]]:
    if text is None:
        return "", []
    if len(text) == 0:
        return "", []
    return text, [(0, len(text), "text")]

