"""Structured Streaming variant of the extraction pipeline.

readStream (file source) -> the SAME zero-shuffle extract_turns pass ->
parquet sink with checkpointing. Exactly-once end-to-end: the file
source tracks processed files and the sink commits through the
streaming commit log, so a crashed query resumes without duplicates —
the streaming analog of the batch pipeline's checkpoint claim loop.

``availableNow`` processes the current backlog and stops (the shape the
driver/test harness needs); drop it for a continuously-running query.

Scale notes: state here is only source-progress metadata (no
aggregation state), so there is no state-store growth; watermarks are
unnecessary because extraction is per-row. A windowed variant (e.g.
turns/minute metrics) would add ``withWatermark("ts", ...)`` +
``groupBy(window(...))`` on top of the same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from v2_ocr_spark.operators.extract import extract_turns

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_parquet_stream(
    spark: SparkSession, ddl: str, input_dir: str
) -> DataFrame:
    """The file source every streaming operator here reads: parquet
    files anywhere under ``input_dir``, with a fixed schema (streaming
    file sources cannot infer one)."""
    return (
        spark.readStream.schema(ddl)
        .option("recursiveFileLookup", "true")
        .parquet(input_dir)
    )


def write_parquet_stream(
    df: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool
) -> StreamingQuery:
    """Start an append-mode parquet sink with its checkpoint; with
    ``available_now`` the query drains the current backlog and stops."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    stream = read_parquet_stream(spark, TRANSCRIPT_DDL, input_dir)
    return write_parquet_stream(
        extract_turns(stream), out_dir, checkpoint_dir, available_now
    )
