"""The extraction pipeline — per-turn text cleanup as ONE narrow
mapInPandas pass.

Reference parity:
  * kernel dispatch == the provider factory switch
    (reference: lib/ocr/providers/index.ts:82-99) — a payload-kind
    column selects the kernel per row, so dispatch costs no shuffle
    and no extra pass (SURVEY.md §2.10). Each Arrow batch calls
    ``KERNELS[kind]`` once per kind present, concatenates the per-kind
    results and reindexes them to input order in one step.
  * error-as-row == P10 (file-processor.ts:474-504): a failing turn
    produces a result row with empty text and the error message —
    turns are never dropped.
  * per-turn metrics == the per-page progress/metrics stamps
    (file-processor.ts:312-327); ``proc_us`` is the kernel time of the
    row's kind in its batch divided by that kind's rows.

Scale notes (100 TB / 10^12 turns):
  * This stage is embarrassingly parallel: no groupBy, no join, no
    shuffle. Parallelism == input splits; Parquet/Iceberg split sizing
    (spark.sql.files.maxPartitionBytes) is the only knob.
  * Catalyst prunes the scan to exactly (conv_id, turn_idx, role,
    text, tool) — check ReadSchema in .explain().
  * Long-conversation skew does NOT affect this stage (rows are
    independent); it matters only for grouped assembly, which handles
    it with chunked two-phase merge (operators/assemble.py).
  * Arrow batch size is capped session-wide (session.py) so 64 KB
    turn texts can't blow up Python-worker memory.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from v2_ocr_spark.kernels import KERNELS

# dispatch rule (P11 analog): tool turns declare their kind in the tool
# column ("<name> extract:<kind>"); assistant turns carry provider
# markdown; user turns are plain text.
_KIND_RE = r"extract:([a-z_]+)"

SPANS_DDL = "array<struct<start:int,end:int,kind:string>>"
EXTRACTED_DDL = (
    "conv_id string, turn_idx int, extracted_text string, "
    f"spans {SPANS_DDL}, error string"
)
EXTRACTED_METRICS_DDL = (
    EXTRACTED_DDL
    + ", chars_in long, chars_out long, n_spans int, nodes_seen long, "
    "proc_us long"
)


def with_payload_kind(df: DataFrame) -> DataFrame:
    """Derive the kernel-dispatch column (JVM-side, codegen'd)."""
    return df.withColumn(
        "payload_kind",
        F.when(
            F.col("tool").isNotNull()
            & (F.regexp_extract("tool", _KIND_RE, 1) != F.lit("")),
            F.regexp_extract("tool", _KIND_RE, 1),
        )
        .when(F.col("role") == "assistant", F.lit("markdown"))
        .otherwise(F.lit("plain")),
    )


# span tuples (start, end, kind) convert to Arrow struct rows directly —
# building dicts per row costs ~10% of the whole pass (measured)


def _error_rows(index: pd.Index, error: str) -> pd.DataFrame:
    return pd.DataFrame(
        {"extracted_text": "", "spans": [[] for _ in index], "error": error},
        index=index,
    )


def _apply(kernel, texts: pd.Series) -> pd.DataFrame:
    """One kind's rows through its kernel. P10 fallback: a failing call
    is retried row by row, so only the failing rows become error rows."""
    try:
        fields = kernel(texts)
    except Exception as exc:  # noqa: BLE001
        if len(texts) == 1:
            return _error_rows(texts.index, f"{type(exc).__name__}: {exc}")
        return pd.concat(
            [_apply(kernel, texts.iloc[i:i + 1]) for i in range(len(texts))]
        )
    cols = dict(zip(("extracted_text", "spans", "nodes_seen"), fields))
    return pd.DataFrame(cols, index=texts.index)


def _extract_batch(pdf: pd.DataFrame, with_metrics: bool) -> pd.DataFrame:
    parts = []
    for kind, texts in pdf["text"].groupby(
        pdf["payload_kind"], sort=False, dropna=False
    ):
        t0 = time.perf_counter_ns()
        kernel = KERNELS.get(kind)
        part = (  # unknown kinds -> error rows, never dropped (P10)
            _apply(kernel, texts) if kernel else
            _error_rows(texts.index, f"unknown payload kind: {kind}")
        )
        # per-kind kernel time, shared by that kind's rows in the batch
        part["proc_us"] = (time.perf_counter_ns() - t0) // 1000 // len(texts)
        parts.append(part)
    # only error rows carry "error" and only html rows "nodes_seen": an
    # all-None object column makes concat test every value for NA
    res = pd.concat(parts).reindex(
        index=pdf.index,
        columns=["extracted_text", "spans", "error", "nodes_seen", "proc_us"],
    )
    error = res["error"].astype(object)
    out = pdf[["conv_id", "turn_idx"]].assign(
        extracted_text=res["extracted_text"], spans=res["spans"],
        error=error.where(error.notna(), None),
    )
    if with_metrics:
        # nodes inspected per turn (north-rule metrics: dropped =
        # seen-kept); kernels without a dropped-block notion: seen == kept
        n_spans = res["spans"].map(len).astype("int32")
        out = out.assign(
            chars_in=pdf["text"].fillna("").str.len().astype("int64"),
            chars_out=res["extracted_text"].str.len().astype("int64"),
            n_spans=n_spans,
            nodes_seen=res["nodes_seen"].fillna(n_spans).astype("int64"),
            proc_us=res["proc_us"],
        )
    return out


def extract_turns(df: DataFrame, with_metrics: bool = False) -> DataFrame:
    """transcripts -> extracted(conv_id, turn_idx, extracted_text, spans,
    error[, metrics]) — one narrow Arrow-batched pass, zero shuffles."""
    src = with_payload_kind(df).select(
        "conv_id", "turn_idx", "text", "payload_kind"
    )
    schema = EXTRACTED_METRICS_DDL if with_metrics else EXTRACTED_DDL

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _extract_batch(pdf, with_metrics)

    return src.mapInPandas(run, schema=schema)


def extract_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-side pure-pandas reference run of the same kernels —
    used by e2e tests to check the Spark pipeline row-for-row."""
    tool = pdf["tool"].fillna("")
    kind = tool.str.extract(_KIND_RE, expand=False)
    kind = kind.where(
        kind.notna(),
        pd.Series(
            ["markdown" if r == "assistant" else "plain" for r in pdf["role"]],
            index=pdf.index,
        ),
    )
    work = pdf[["conv_id", "turn_idx", "text"]].copy()
    work["payload_kind"] = kind
    return _extract_batch(work, with_metrics=False)
