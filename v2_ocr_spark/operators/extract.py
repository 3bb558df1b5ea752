"""The extraction pipeline — per-turn text cleanup as ONE narrow
mapInArrow pass.

Reference parity:
  * kernel dispatch == the provider factory switch
    (reference: lib/ocr/providers/index.ts:82-99) — a payload-kind
    column selects the kernel per row, so dispatch costs no shuffle
    and no extra pass (SURVEY.md §2.10). Each Arrow batch groups its
    row indices by kind and calls ``SCALARS[kind]`` per row.
  * error-as-row == P10 (file-processor.ts:474-504): a failing turn
    produces a result row with empty text and the error message —
    turns are never dropped.
  * per-turn metrics == the per-page progress/metrics stamps
    (file-processor.ts:312-327); ``proc_us`` is the kernel time of the
    row's kind in its batch divided by that kind's rows.

The boundary is Arrow on both sides: the batch function reads ``text``
and ``payload_kind`` once as Python lists, passes the key columns
through untouched and builds its output arrays directly — no pandas
frame and no per-row span dicts.

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

import re
import time
from collections.abc import Iterator
from itertools import accumulate

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from v2_ocr_spark.kernels import SCALARS

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

# the Arrow form of the two DDLs, built without a JVM (workers have none)
_SPAN = pa.struct(
    [("start", pa.int32()), ("end", pa.int32()), ("kind", pa.string())]
)
EXTRACTED_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("extracted_text", pa.string()), ("spans", pa.list_(_SPAN)),
    ("error", pa.string()),
])
EXTRACTED_METRICS_SCHEMA = pa.schema([
    *EXTRACTED_SCHEMA,
    ("chars_in", pa.int64()), ("chars_out", pa.int64()),
    ("n_spans", pa.int32()), ("nodes_seen", pa.int64()),
    ("proc_us", pa.int64()),
])


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


def _pylist(col: pa.Array) -> list:
    """A string column as a list of ``str`` (None for null): the same
    list as ``to_pylist()``, which builds an Arrow scalar per value and
    costs ~5x more on 4096-row batches (measured)."""
    return col.to_numpy(zero_copy_only=False).tolist()


def _spans_array(spans: list) -> pa.ListArray:
    """Per-row ``(start, end, kind)`` lists -> one list<struct> array
    over flat child arrays (no per-span dicts)."""
    flat = [span for row in spans for span in row]
    starts, ends, kinds = zip(*flat) if flat else ((), (), ())
    return pa.ListArray.from_arrays(
        pa.array(list(accumulate(map(len, spans), initial=0)), pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(starts, pa.int32()), pa.array(ends, pa.int32()),
             pa.array(kinds, pa.string())],
            fields=list(_SPAN),
        ),
    )


def extract_batch(batch: pa.RecordBatch, with_metrics: bool) -> pa.RecordBatch:
    """One Arrow batch of (conv_id, turn_idx, text, payload_kind) through
    the kernels, in input order. P10: a raising row and a row of an
    unknown kind become error rows; no row is dropped."""
    texts = _pylist(batch.column("text"))
    rows_of: dict[str | None, list[int]] = {}
    for i, kind in enumerate(_pylist(batch.column("payload_kind"))):
        rows_of.setdefault(kind, []).append(i)
    n = len(texts)
    out, spans, errors = [""] * n, [()] * n, [None] * n
    nodes_seen, proc_us = [None] * n, [0] * n
    for kind, rows in rows_of.items():
        t0 = time.perf_counter_ns()
        kernel = SCALARS.get(kind)
        if kernel is None:
            for i in rows:
                errors[i] = f"unknown payload kind: {kind}"
        else:
            for i in rows:
                try:
                    res = kernel(texts[i])
                except Exception as exc:  # noqa: BLE001
                    errors[i] = f"{type(exc).__name__}: {exc}"
                    continue
                out[i], spans[i] = res[0], res[1]
                if len(res) > 2:  # html: the DOM blocks it inspected
                    nodes_seen[i] = res[2]
        # per-kind kernel time, shared by that kind's rows in the batch
        us = (time.perf_counter_ns() - t0) // 1000 // len(rows)
        for i in rows:
            proc_us[i] = us
    text_out = pa.array(out, pa.string())
    span_col = _spans_array(spans)
    cols = [
        batch.column("conv_id"), batch.column("turn_idx"), text_out,
        span_col, pa.array(errors, pa.string()),
    ]
    if not with_metrics:
        return pa.RecordBatch.from_arrays(cols, schema=EXTRACTED_SCHEMA)
    n_spans = span_col.value_lengths()
    # nodes inspected per turn (north-rule metrics: dropped = seen-kept);
    # kernels without a dropped-block notion: seen == kept
    seen = pc.coalesce(
        pa.array(nodes_seen, pa.int64()), n_spans.cast(pa.int64())
    )
    cols += [  # utf8_length counts code points, as Python len does
        pc.utf8_length(batch.column("text")).fill_null(0).cast(pa.int64()),
        pc.utf8_length(text_out).cast(pa.int64()),
        n_spans, seen, pa.array(proc_us, pa.int64()),
    ]
    return pa.RecordBatch.from_arrays(cols, schema=EXTRACTED_METRICS_SCHEMA)


def extract_turns(df: DataFrame, with_metrics: bool = False) -> DataFrame:
    """transcripts -> extracted(conv_id, turn_idx, extracted_text, spans,
    error[, metrics]) — one narrow Arrow-batched pass, zero shuffles."""
    src = with_payload_kind(df).select(
        "conv_id", "turn_idx", "text", "payload_kind"
    )
    schema = EXTRACTED_METRICS_DDL if with_metrics else EXTRACTED_DDL

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield extract_batch(batch, with_metrics)

    return src.mapInArrow(run, schema=schema)


def extract_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-side row loop over the same scalar kernels, with its own
    kind dispatch — the independent reference the e2e tests hold the
    Spark pass to, row for row."""
    rows = []
    for tool, role, text in zip(pdf["tool"], pdf["role"], pdf["text"]):
        m = re.search(_KIND_RE, tool) if isinstance(tool, str) else None
        kind = m[1] if m else "markdown" if role == "assistant" else "plain"
        if kind not in SCALARS:
            rows.append(("", [], f"unknown payload kind: {kind}"))
            continue
        try:
            cleaned, spans, *_ = SCALARS[kind](text)
        except Exception as exc:  # noqa: BLE001
            rows.append(("", [], f"{type(exc).__name__}: {exc}"))
        else:
            rows.append((cleaned, spans, None))
    res = pd.DataFrame(
        rows, columns=["extracted_text", "spans", "error"], index=pdf.index
    )
    return pd.concat([pdf[["conv_id", "turn_idx"]], res], axis=1)
