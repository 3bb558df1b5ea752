"""Streaming surface.

The reference's dataflow engine is a polling job queue over a finite
set of uploaded documents — there is no unbounded source, watermark, or
event-time window anywhere in it (SURVEY.md §2.9) — so the primary
engine models it as a RESUMABLE BATCH claim loop (pipeline/runner.py),
which is both closer in semantics (status rows, crash recovery by
status reset, idempotent upserts) and faster (no micro-batch overhead).

For genuinely unbounded transcript sources, the same extraction pass
runs unchanged under Structured Streaming — mapInArrow is supported in
streaming plans — see stream_extract.py (file-source -> extract ->
parquet sink with checkpointing; exactly-once via the streaming
commit log, the Structured-Streaming analog of the batch sink's
per-partition snapshot commits).
"""

from v2_ocr_spark.streaming.stream_extract import stream_extract

__all__ = ["stream_extract"]
