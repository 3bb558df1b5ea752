"""The flattened DOM-node table — the relational face of HTML extraction.

The north star calls for "Readability-style text-density and
link-density scoring over a flattened DOM-node table".  The production
extract path runs the whole thing fused inside one zero-shuffle
mapInArrow kernel (kernels/htmlx.py via operators/extract.py); THIS
module exposes the intermediate node table as a real DataFrame so the
scoring + classification can run as JVM-side Column arithmetic
(whole-stage codegen) and be queried/audited relationally.

The two routes are the SAME semantics by construction:

  * ``flatten_dom`` calls the identical ``flatten_html`` per Arrow
    batch that the kernel uses — only the parse needs Python.
  * ``classify_nodes`` re-expresses ``htmlx.is_content`` integer-exact
    as Column expressions (no floats in the decision).
  * ``reassemble_content`` = sort_array(collect_list(...)) + array_join
    — and tests assert byte equality with the kernel route.

Scale notes (100 TB):
  * flatten is embarrassingly parallel (no shuffle); the node table is
    ~blocks-per-turn x wider in rows but narrow in bytes.
  * classification is pure codegen — zero Python, zero shuffle.
  * reassembly shuffles on (conv_id, turn_idx): keys are per-turn, so
    the 10k-turn skew conversation does NOT skew this shuffle (unlike
    per-conv assembly, which uses the chunked two-phase merge in
    operators/assemble.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from v2_ocr_spark.kernels.htmlx import (
    CONTENT_TAGS,
    HEADING_TAGS,
    flatten_html,
)
from v2_ocr_spark.operators.extract import with_payload_kind

NODE_DDL = (
    "conv_id string, turn_idx int, block_id int, tag string, depth int, "
    "boiler boolean, text string, n_chars int, link_chars int, n_inline int"
)
_NODE_COLS = [
    "block_id", "tag", "depth", "boiler", "text",
    "n_chars", "link_chars", "n_inline",
]


def flatten_dom(df: DataFrame) -> DataFrame:
    """transcripts -> one row per DOM block node of every html turn.

    Zero-shuffle: the parse fans out each turn's blocks inside the
    same Arrow batch (mapInPandas), so parallelism == input splits.
    """
    src = (
        with_payload_kind(df)
        .where(F.col("payload_kind") == "html")
        .select("conv_id", "turn_idx", "text")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = {c: [] for c in ("conv_id", "turn_idx", *_NODE_COLS)}
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                for nd in flatten_html(None if text is None else str(text)):
                    rows["conv_id"].append(conv_id)
                    rows["turn_idx"].append(turn_idx)
                    for c in _NODE_COLS:
                        rows[c].append(nd[c])
            yield pd.DataFrame(rows)

    return src.mapInPandas(run, schema=NODE_DDL)


def classify_nodes(nodes: DataFrame) -> DataFrame:
    """Score + classify the node table — pure JVM Column arithmetic.

    ``is_content`` is the integer-exact twin of ``htmlx.is_content``
    (module doc there); the density columns are the Readability-style
    scores surfaced for analysis.
    """
    n = F.col("n_chars")
    lk = F.col("link_chars")
    tag = F.col("tag")
    rule = (
        (tag.isin(list(HEADING_TAGS)) & (lk == 0))
        | ((n >= 25) & (lk * 3 <= n))
        | (tag.isin(list(CONTENT_TAGS)) & (n >= 8) & (lk * 5 <= n))
    )
    return nodes.select(
        "*",
        (lk.cast("double") / F.greatest(n, F.lit(1))).alias("link_density"),
        (n.cast("double") / (F.col("n_inline") + 1)).alias("text_density"),
        (~F.col("boiler") & (n > 0) & rule).alias("is_content"),
    )


def reassemble_content(nodes: DataFrame) -> DataFrame:
    """Classified node table -> (conv_id, turn_idx, extracted_text).

    Byte-identical to the kernel route for every turn that produced at
    least one node (all-boilerplate turns yield "", matching the
    kernel; node-less turns have no row here by construction).
    collect_list drops nulls, so the when() keeps only content blocks;
    sort_array restores document order by block_id.
    """
    if "is_content" not in nodes.columns:
        nodes = classify_nodes(nodes)
    kept = F.sort_array(
        F.collect_list(
            F.when(F.col("is_content"), F.struct("block_id", "text"))
        )
    )
    return nodes.groupBy("conv_id", "turn_idx").agg(
        F.array_join(
            F.transform(kept, lambda x: x["text"]), "\n\n"
        ).alias("extracted_text")
    )


def node_stats(nodes: DataFrame) -> DataFrame:
    """Per-turn extraction metrics over the node table — the HTML
    analog of the reference's per-page progress stamps
    (file-processor.ts:312-327): nodes seen, blocks kept/dropped,
    chars emitted."""
    if "is_content" not in nodes.columns:
        nodes = classify_nodes(nodes)
    is_c = F.col("is_content").cast("int")
    return nodes.groupBy("conv_id", "turn_idx").agg(
        F.count("*").cast("int").alias("n_blocks"),
        F.sum(is_c).cast("int").alias("n_kept"),
        (F.count("*") - F.sum(is_c)).cast("int").alias("n_dropped"),
        F.sum(F.when(F.col("is_content"), F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
        F.sum("link_chars").cast("bigint").alias("link_chars"),
    )
