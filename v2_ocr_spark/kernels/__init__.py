"""Extraction kernels — one scalar function per payload kind.

A kernel is ``payload (str | None) -> (text, spans[, nodes_seen])``:
the cleaned text, its ``(start, end, kind)`` spans and, for html, the
DOM blocks inspected. ``SCALARS`` is the one payload-kind -> kernel
table: the ``mapInArrow`` extraction pass calls it per row of each
Arrow batch, and the fixture generator calls it to build the golden
expected tables. ``KERNELS`` lifts each scalar through one row-wise
adapter to ``pandas.Series -> tuple of Series`` (same index), the form
the kernel tests and perfbench's kernel probe call. A new payload
kind is one scalar and one ``SCALARS`` entry.
"""

import pandas as pd

from v2_ocr_spark.kernels.markdown import JS_WS, extract_markdown, js_trim
from v2_ocr_spark.kernels.blocks import reassemble_blocks, RTL_LANGUAGES
from v2_ocr_spark.kernels.plain import passthrough
from v2_ocr_spark.kernels.htmlx import extract_html_counted
from v2_ocr_spark.kernels.pdflayout import layout_text

SCALARS = {
    "markdown": extract_markdown,
    "blocks_rtl": reassemble_blocks,
    "plain": passthrough,
    "html": extract_html_counted,
    "pdf_layout": layout_text,
}


def _rowwise(scalar):
    """Scalar kernel -> Series kernel: one call per row, one Series per
    output field, on the input's index (``texts`` must be non-empty)."""

    def kernel(texts: pd.Series) -> tuple[pd.Series, ...]:
        return tuple(
            pd.Series(list(field), index=texts.index)
            for field in zip(*map(scalar, texts))
        )

    return kernel


KERNELS = {kind: _rowwise(scalar) for kind, scalar in SCALARS.items()}

__all__ = ["JS_WS", "KERNELS", "RTL_LANGUAGES", "SCALARS", "js_trim"]
