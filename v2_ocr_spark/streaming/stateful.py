"""Custom stateful streaming operators.

Two Structured Streaming shapes the batch surface doesn't cover:

* ``stream_turn_metrics`` — watermark + event-time windowed aggregation
  (late data handled by the watermark; the streaming analog of the
  reference's 1 s status heartbeat, queue-manager.ts:217, aggregated
  instead of polled).
* ``stream_sessionize`` — an arbitrary-stateful operator via
  ``applyInPandasWithState``: gap-based sessionization per user where
  the open session survives across micro-batches in the state store.
  Closed sessions are emitted as soon as the gap that closes them is
  seen; the still-open session stays in state (and would emit on an
  event-time timeout in a continuously-running query).

Scale notes: state is keyed by user_id — size is O(active users), one
small fixed-width row each, so the state store does not grow with
events. The shuffle partitions the stream by user_id once; skew =
hottest user, same as the batch window formulation
(operators/relational.sessionize).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import SparkSession
import pyspark.sql.functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from v2_ocr_spark.streaming.stream_extract import (
    TRANSCRIPT_DDL,
    read_parquet_stream,
    write_parquet_stream,
)

EVENT_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
SESSION_OUT_DDL = (
    "user_id long, session_start double, session_end double, n_events long"
)
_SESSION_STATE_DDL = "start_ts double, last_ts double, n long"


def _advance_session(
    user_id, start, last, n, ts_seconds, gap_seconds: float
):
    """The gap-sessionization core of the applyInPandasWithState fn,
    kept free of Spark types so it is unit-tested directly.

    Cross-batch disorder: events are only sorted WITHIN a micro-batch
    (no watermark on this operator), so a late event belonging to the
    OPEN session may arrive after the state's high-water mark. It must
    never move that mark BACKWARD — `last = t` unconditionally would
    make the next on-time event measure its gap from the late
    timestamp and falsely split the session (the batch global-sort
    formulation keeps it whole). A late in-gap event folds into the
    open session, extending its start backward if needed; an ANCIENT
    straggler — more than gap_seconds before the open session's start
    — can never belong to it and is emitted as its own closed
    single-event session, leaving the open session untouched."""
    closed: list[tuple] = []
    for t in ts_seconds:
        if last is None:
            start = last = t
            n = 1
        elif t < start - gap_seconds:
            closed.append((user_id, t, t, 1))
        elif t - last > gap_seconds:
            closed.append((user_id, start, last, n))
            start = last = t
            n = 1
        else:
            last = max(last, t)
            start = min(start, t)
            n += 1
    return start, last, n, closed


def _sessionize_fn(gap_seconds: float):
    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        # deterministic event order within the batch — same tiebreak as
        # the batch formulation (relational.sessionize)
        batch = batch.sort_values(["ts", "event_id"])
        start, last, n, closed = _advance_session(
            user_id, start, last, n,
            (ts.timestamp() for ts in batch["ts"]), gap_seconds,
        )
        state.update((start, last, n))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    return fn


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap_minutes: int = 30,
    available_now: bool = True,
) -> StreamingQuery:
    """events stream -> closed sessions, open session held in state."""
    stream = read_parquet_stream(spark, EVENT_DDL, input_dir)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn(gap_minutes * 60.0),
        outputStructType=SESSION_OUT_DDL,
        stateStructType=_SESSION_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return write_parquet_stream(
        sessions, out_dir, checkpoint_dir, available_now
    )


def stream_turn_metrics(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """transcripts stream -> per-window per-kind turn/char counts.

    ``withWatermark`` bounds state: windows older than the watermark
    close, emit once (append mode), and are evicted — late rows beyond
    the watermark are dropped rather than growing state forever.
    """
    from v2_ocr_spark.operators.extract import with_payload_kind

    stream = read_parquet_stream(spark, TRANSCRIPT_DDL, input_dir)
    agg = (
        with_payload_kind(stream)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "payload_kind")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("chars_in"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "payload_kind",
            "n_turns",
            "chars_in",
        )
    )
    return write_parquet_stream(agg, out_dir, checkpoint_dir, available_now)


def stream_extract_upsert(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    num_partitions: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming extraction landing in the transactional MergeSink via
    foreachBatch — the third Structured Streaming idiom next to the
    append sink (stream_extract) and arbitrary state (sessionizer).

    Each micro-batch is ONE copy-on-write rewrite (maintenance._rewrite)
    keyed (conv_id, turn_idx): one pid collect over the batch's input
    rows, then one MergeSink.stage action that extracts the batch,
    merges it into the pids already committed and writes the pids it
    reaches first (``fresh``: the stream IS their extraction, so they
    commit with ``op: "bootstrap"`` under the same run_id). Extraction
    runs once, inside that action; nothing is persisted. End-to-end
    effectively-once: the source commit log makes batch replay the only
    duplication mode, and the merge is idempotent, so a replayed batch
    is a no-op. The same pattern targets Iceberg MERGE INTO on a real
    cluster (pipeline/iceberg.py). ``num_partitions`` None adopts the
    table's pinned count (the batch job's default on a fresh table).
    """
    from v2_ocr_spark.operators.extract import extract_turns
    from v2_ocr_spark.pipeline.maintenance import _affected_pids, _merge
    from v2_ocr_spark.pipeline.sink import MergeSink

    stream = read_parquet_stream(spark, TRANSCRIPT_DDL, input_dir)

    def land(batch_df, batch_id: int) -> None:
        sink = MergeSink(out_dir)
        # ONE ownership block spans the micro-batch INCLUDING the
        # partition-count pin, a read-decide-write on _table.json that
        # must not race a batch runner on a brand-new sink
        with sink.owned(num_partitions):
            # extraction keeps every input row, so the input's pids are
            # the extraction's: nothing is extracted to find them
            pids = _affected_pids(sink, batch_df)
            fresh = set(pids) - set(sink.committed())
            # with_metrics matches the BATCH staging schema (a narrow
            # first partition would become the table's schema and drop
            # the metrics columns on read). The key dedupe handles an
            # at-least-once upstream writing one turn into two files
            # picked up by the same trigger: extraction is deterministic
            # per input row, so replayed keys carry byte-identical
            # payloads and dropDuplicates picks one of the equals —
            # without it the full_outer merge would commit both rows
            # and break the keyed table forever.
            _merge(
                spark, sink,
                extract_turns(batch_df, with_metrics=True)
                .dropDuplicates(["conv_id", "turn_idx"]),
                pids, fresh,
            )

    writer = stream.writeStream.foreachBatch(land).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_turns(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming exact dedup on the turn key: dropDuplicatesWithinWatermark
    under an event-time watermark, so re-delivered turns (at-least-once
    upstreams, replayed producers) emit once and the key state EVICTS
    once the watermark passes the first sighting — bounded state, which
    plain dropDuplicates([keys]) does NOT give (without the event-time
    column in the key list its state grows with every distinct key
    forever). The traded contract: a replay arriving LATER than the
    watermark delay after the original is emitted again — at-least-once
    upstreams replay within their ack window, so size `watermark` to
    bound that window. Fourth Structured Streaming idiom here (append
    sink, arbitrary state, foreachBatch MERGE, keyed dedup)."""
    stream = read_parquet_stream(spark, TRANSCRIPT_DDL, input_dir)
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )
    return write_parquet_stream(
        deduped, out_dir, checkpoint_dir, available_now
    )
