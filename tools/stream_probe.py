"""Streaming-extraction probe: stream_extract_upsert over a full
fixture scale must land BYTE-EQUAL to batch extraction, and an
availableNow replay over the unchanged source must be a no-op (the
source commit log + idempotent MERGE = effectively-once).

Prints one JSON line; results recorded in BASELINE.md. A probe, not a
per-round bench — run it manually after touching streaming/stateful,
pipeline/sink, or the extraction operators:  python tools/stream_probe.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Spark's Python workers import the package too: give them this tree
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (REPO, os.environ.get("PYTHONPATH"))))

INPUT = os.environ.get(
    "STREAM_PROBE_INPUT", f"{REPO}/data/sf0.1/transcripts.parquet"
)
WORK = os.environ.get("STREAM_PROBE_DIR", "/tmp/v2ocr_stream_probe")


def main() -> None:
    from v2_ocr_spark.operators.extract import extract_turns
    from v2_ocr_spark.pipeline.sink import MergeSink
    from v2_ocr_spark.session import get_spark
    from v2_ocr_spark.streaming.stateful import stream_extract_upsert

    spark = get_spark(app_name="stream-probe")
    shutil.rmtree(WORK, ignore_errors=True)
    out, ckpt = f"{WORK}/out", f"{WORK}/ckpt"

    t0 = time.perf_counter()
    q = stream_extract_upsert(spark, INPUT, out, ckpt, num_partitions=8)
    q.awaitTermination()
    t_stream = time.perf_counter() - t0

    got = MergeSink(out).read(spark)
    n = got.count()
    batch = extract_turns(spark.read.parquet(INPUT)).select(
        "conv_id", "turn_idx", "extracted_text"
    )
    n_batch = batch.count()
    # full-outer on the key: count equality + inner-join mismatches
    # alone cannot see OFFSETTING key-set differences (one key dropped,
    # one spurious key added keeps n == n_batch and hides both rows
    # from an inner join)
    joined = got.select("conv_id", "turn_idx", "extracted_text").join(
        batch, ["conv_id", "turn_idx"], "full_outer"
    )
    n_joined = joined.count()
    mismatches = joined.where(
        ~got["extracted_text"].eqNullSafe(batch["extracted_text"])
    ).count()
    assert n == n_batch and n_joined == n and mismatches == 0, (
        n, n_batch, n_joined, mismatches,
    )

    # replay: second availableNow run over the same source is a no-op
    q2 = stream_extract_upsert(spark, INPUT, out, ckpt, num_partitions=8)
    q2.awaitTermination()
    n2 = MergeSink(out).read(spark).count()
    assert n2 == n, (n2, n)

    print(json.dumps({
        "metric": "stream_probe",
        "input": INPUT,
        "rows": n,
        "text_mismatches_vs_batch": mismatches,
        "replay_rows": n2,
        "stream_sec": round(t_stream, 1),
        "ok": True,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
