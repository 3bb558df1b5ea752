"""Maintenance-at-scale probe: drive the sink maintenance machinery
against a REAL extraction sink and assert its invariants end to end.

Builds a fresh sink by extracting $MAINT_PROBE_INPUT (default: the
sf0.1 transcripts fixture, 170k turns / 32 partitions), then:

  * point-delete of the first 25% of conversations (distributed
    anti-join path; victims must vanish, survivors must be untouched)
  * retention_cleanup at the conversations dim's median created_at
  * compact_partitions (row counts byte-identical, committed pids only)
  * run(incremental=True) over the UNCHANGED input — maintained
    partitions must stay up-to-date and deleted conversations must NOT
    resurrect (the input_rows/input_sig carry-forward invariant,
    CLAUDE.md)

Prints one JSON line; results recorded in BASELINE.md. A probe, not a
per-round bench — run it manually after touching pipeline/sink,
pipeline/maintenance, or pipeline/runner:  python tools/maintenance_probe.py

Every check DataFrame built over the sink is materialized to ids
BEFORE a rewrite (a lazy plan over sink files dangles after the atomic
partition swap — that is by design: readers re-open via sink.read).
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
    "MAINT_PROBE_INPUT", f"{REPO}/data/sf0.1/transcripts.parquet"
)
WORK = os.environ.get("MAINT_PROBE_DIR", "/tmp/v2ocr_maint_probe")


def main() -> None:
    import pyspark.sql.functions as F

    from v2_ocr_spark.pipeline import maintenance as M
    from v2_ocr_spark.pipeline.runner import ExtractionJob
    from v2_ocr_spark.pipeline.sink import MergeSink
    from v2_ocr_spark.session import get_spark

    spark = get_spark(app_name="maint-probe")
    shutil.rmtree(WORK, ignore_errors=True)
    out = f"{WORK}/extracted"

    job = ExtractionJob(spark, INPUT, out)
    job.run()
    sink = MergeSink(out)
    base = sink.read(spark)
    n0 = base.count()
    c0 = base.select("conv_id").distinct().count()

    # -- point delete: first 25% of conversations by id ---------------
    # victims stay a DATAFRAME end to end (limit, never collect) — at a
    # large MAINT_PROBE_INPUT pulling 25% of all conversation ids to
    # the driver is the exact OOM pattern delete_conversation_keys
    # forbids; persisted because three stages consume the same set
    victims = (
        base.select("conv_id").distinct().orderBy("conv_id")
        .limit(c0 // 4).persist()
    )
    vic_rows = base.join(victims, "conv_id").count()
    t0 = time.perf_counter()
    M.delete_conversation_keys(spark, out, victims)
    t_delete = time.perf_counter() - t0
    after = sink.read(spark)
    n1 = after.count()
    assert after.join(victims, "conv_id").count() == 0, "victims survived"
    assert n1 == n0 - vic_rows, (n1, n0, vic_rows)

    # -- retention at the dim's median created_at ----------------------
    convs = spark.read.parquet(
        os.path.join(os.path.dirname(INPUT), "conversations.parquet")
    )
    cutoff = str(
        convs.select(
            F.expr("percentile_approx(created_at, 0.5)").alias("m")
        ).collect()[0].m
    )
    # no driver-side collect of the key list: 'old' derives from the
    # conversations dim parquet (no sink rewrite invalidates it), so it
    # feeds both the expected-drop count and the post-rewrite resurrect
    # check directly — collecting every pre-cutoff id is exactly the
    # driver OOM pattern delete_conversation_keys forbids
    old_keys = convs.where(
        F.col("created_at") < F.lit(cutoff + "+00:00").cast("timestamp")
    ).select("conv_id")
    exp_drop = after.join(old_keys, "conv_id").count()
    t0 = time.perf_counter()
    M.retention_cleanup(spark, out, convs, cutoff)
    t_retention = time.perf_counter() - t0
    after2 = sink.read(spark)
    n2 = after2.count()
    assert n2 == n1 - exp_drop, (n2, n1, exp_drop)
    assert after2.join(old_keys, "conv_id").count() == 0, "retention missed"

    # -- compaction: byte-identical rows --------------------------------
    t0 = time.perf_counter()
    M.compact_partitions(spark, out)
    t_compact = time.perf_counter() - t0
    n3 = sink.read(spark).count()
    assert n3 == n2, (n3, n2)

    # -- incremental no-resurrect ---------------------------------------
    t0 = time.perf_counter()
    r = job.run(incremental=True)
    t_incr = time.perf_counter() - t0
    final = sink.read(spark)
    nf = final.count()
    assert not r.get("committed"), "incremental re-extracted maintained pids"
    assert nf == n3, (nf, n3)
    assert final.join(victims, "conv_id").count() == 0, "delete resurrected"
    assert final.join(old_keys, "conv_id").count() == 0, (
        "retention resurrected"
    )

    print(json.dumps({
        "metric": "maintenance_probe",
        "input": INPUT,
        "rows_extracted": n0,
        "conversations": c0,
        "deleted_convs": c0 // 4,
        "deleted_rows": vic_rows,
        "retention_rows": exp_drop,
        "rows_final": nf,
        "incremental_status": r["status"],
        "delete_sec": round(t_delete, 1),
        "retention_sec": round(t_retention, 1),
        "compact_sec": round(t_compact, 1),
        "incremental_sec": round(t_incr, 1),
        "ok": True,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
