"""Idempotence / resume tests (SURVEY.md §5.2 item 4): kill after a
partial commit, re-run, final table equals a single-run table with no
duplicate (conv_id, turn_idx) — mirrors Q2 crash recovery + S5
idempotent upserts."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from v2_ocr_spark.pipeline.runner import ExtractionJob
from v2_ocr_spark.pipeline.sink import QUEUED


@pytest.fixture()
def job_factory(spark, sf_small, tmp_path):
    def make(name: str, **kw) -> ExtractionJob:
        return ExtractionJob(
            spark,
            f"{sf_small}/transcripts.parquet",
            str(tmp_path / name),
            num_partitions=kw.pop("num_partitions", 8),
            **kw,
        )

    return make


def _table(job):
    return (
        job.read_output()
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def crash_before_promoting(monkeypatch, pid: int) -> None:
    """Make MergeSink.promote raise for ``pid`` — a driver crash after
    staging, with the partitions before it already committed."""
    from v2_ocr_spark.pipeline.sink import MergeSink

    promote = MergeSink.promote

    def crashing(self, run_id, p, metrics):
        if p == pid:
            raise RuntimeError(f"injected crash before promoting pid={p}")
        return promote(self, run_id, p, metrics)

    monkeypatch.setattr(MergeSink, "promote", crashing)


def test_single_run_commits_everything(job_factory):
    job = job_factory("single")
    res = job.run()
    assert sorted(res["committed"]) == list(range(8))
    out = job.read_output()
    assert out.groupBy("conv_id", "turn_idx").count().where("count > 1").count() == 0


def test_crash_resume_equals_single_run(spark, job_factory, monkeypatch):
    ref = job_factory("ref")
    ref.run()
    expected = _table(ref)

    job = job_factory("crashy")
    with monkeypatch.context() as m:
        crash_before_promoting(m, 4)
        with pytest.raises(RuntimeError, match="injected crash"):
            job.run()
    # partial state: some partitions committed, some not
    committed = set(job.sink.committed())
    assert committed and len(committed) < 8

    # Q2: leftover 'processing' states are recovered, re-run completes
    res2 = job.run()
    assert res2["status"] == "ok"
    assert set(job.sink.committed()) == set(range(8))
    got = _table(job)
    assert got.equals(expected)
    # no duplicates after resume
    dup = (
        job.read_output()
        .groupBy("conv_id", "turn_idx")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_rerun_is_noop(job_factory):
    job = job_factory("noop")
    job.run()
    res = job.run()
    assert res["status"] == "up-to-date"


def test_recover_resets_processing(job_factory):
    job = job_factory("recover")
    job.checkpoints.set(3, status="processing", run_id="dead", attempt=1)
    reset = job.checkpoints.recover()
    assert reset == [3]
    assert job.checkpoints.get(3)["status"] == QUEUED


def test_metrics_lineage(job_factory):
    job = job_factory("metrics")
    job.run()
    rows = job.sink.metrics_rows()
    assert len(rows) == 8
    total = sum(r["turns_seen"] for r in rows)
    assert total == 11782  # sf0.001 row count
    assert all(r["snapshot_id"] for r in rows)
    assert all(r["chars_out"] >= 0 and r["proc_ms"] >= 0 for r in rows)
    # north-rule block metrics: html turns drop boilerplate blocks, so
    # nodes_seen strictly exceeds blocks_kept; never negative dropped
    assert sum(r["nodes_seen"] for r in rows) > sum(
        r["blocks_kept"] for r in rows
    )
    assert all(r["blocks_dropped"] >= 0 for r in rows)


def test_conversations_never_straddle_partitions(job_factory):
    job = job_factory("colocate")
    job.run()
    out = job.read_output().withColumn(
        "file", F.element_at(F.split(F.input_file_name(), "/pid="), 2)
    )
    n = (
        out.select("conv_id", F.split("file", "/")[0].alias("pid"))
        .distinct()
        .groupBy("conv_id")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert n == 0


def test_incremental_recomputes_only_changed_partitions(
    spark, sf_small, tmp_path
):
    """Appending turns to an append-only input re-extracts ONLY the
    partition owning the appended conversation; everything else keeps
    its snapshot. Result equals a from-scratch run on the full input."""
    import shutil

    from v2_ocr_spark.pipeline.runner import ExtractionJob
    from v2_ocr_spark.pipeline.sink import partition_id

    src = str(tmp_path / "inc_in")
    import os

    os.makedirs(src)
    shutil.copy(f"{sf_small}/transcripts.parquet", src)
    out = str(tmp_path / "inc_out")
    job = ExtractionJob(spark, src, out, num_partitions=8)
    job.run()
    assert job.run(incremental=True)["status"] == "up-to-date"

    # append new turns for one existing conversation (new parquet file)
    newturns = spark.createDataFrame(
        [("conv00000001", 900 + i, "user", f"appended turn {i}", None, None)
         for i in range(3)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    newturns.coalesce(1).write.mode("append").parquet(src)
    target_pid = (
        newturns.select(partition_id("conv_id", 8).alias("p")).first()["p"]
    )

    # plain resume considers everything committed -> misses the appends
    assert job.run()["status"] == "up-to-date"
    res = job.run(incremental=True)
    assert res["committed"] == [target_pid]

    got = (
        job.read_output()
        .select("conv_id", "turn_idx", "extracted_text")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    fresh = ExtractionJob(spark, src, str(tmp_path / "inc_full"), 8)
    fresh.run()
    want = (
        fresh.read_output()
        .select("conv_id", "turn_idx", "extracted_text")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert got == want
    # and a further incremental run is a no-op
    assert job.run(incremental=True)["status"] == "up-to-date"


def test_incremental_preserves_maintenance_results(spark, sf_small, tmp_path):
    """Maintenance rewrites carry the input fingerprint forward, so a
    following incremental run does NOT re-extract maintained partitions
    — deleted conversations stay deleted, compacted partitions keep
    their files — until the source input actually changes."""
    import os
    import shutil

    from v2_ocr_spark.pipeline.maintenance import (
        compact_partitions,
        delete_conversations,
    )
    from v2_ocr_spark.pipeline.runner import ExtractionJob

    src = str(tmp_path / "mi_in")
    os.makedirs(src)
    shutil.copy(f"{sf_small}/transcripts.parquet", src)
    out = str(tmp_path / "mi_out")
    job = ExtractionJob(spark, src, out, num_partitions=8)
    job.run()

    delete_conversations(spark, out, ["conv00000003"])
    compact_partitions(spark, out)
    assert job.read_output().where("conv_id = 'conv00000003'").count() == 0

    res = job.run(incremental=True)
    assert res["status"] == "up-to-date", res  # nothing re-extracted
    assert job.read_output().where("conv_id = 'conv00000003'").count() == 0

    # compaction refuses to fabricate commits for uncommitted pids
    res2 = compact_partitions(spark, out, pids=list(range(16)))
    assert res2["skipped"] == list(range(8, 16))
    assert job.run(incremental=True)["status"] == "up-to-date"


def test_commit_fingerprint_is_the_staged_rows_aggregate(job_factory):
    """Each commit's (input_rows, input_sig) is an aggregate of the rows
    its staging action wrote — one per input row, so it equals the
    input's own fingerprint of that pid, and input_rows == turns_seen."""
    job = job_factory("fp")
    job.run()
    fps = job.input_fingerprints()
    stored = {
        int(r.pid): (r.n, r.sig)
        for r in job.read_output().groupBy("pid").agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(conv_id, turn_idx))").alias("sig"),
        ).collect()
    }
    commits = job.sink.committed()
    assert sorted(commits) == sorted(fps) == list(range(8))
    for pid, commit in commits.items():
        m = commit["metrics"]
        got = (m["input_rows"], m["input_sig"])
        assert got == (fps[pid]["input_rows"], fps[pid]["input_sig"])
        assert got == stored[pid]
        assert m["input_rows"] == m["turns_seen"]


def test_ts_only_rewrite_is_up_to_date(spark, sf_small, tmp_path):
    """ts does not survive extraction, so it is not part of the input
    fingerprint: an input that differs only in ts cannot change the
    sink, and an incremental run over it re-extracts nothing."""
    src = str(tmp_path / "ts_in")
    (
        spark.read.parquet(f"{sf_small}/transcripts.parquet")
        .withColumn("ts", F.coalesce(
            F.col("ts") + F.expr("INTERVAL 1 HOUR"),
            F.lit("2001-01-01 00:00:00").cast("timestamp"),
        ))
        .write.parquet(src)
    )
    out = str(tmp_path / "ts_out")
    ExtractionJob(spark, f"{sf_small}/transcripts.parquet", out, 8).run()
    res = ExtractionJob(spark, src, out, 8).run(incremental=True)
    assert res["status"] == "up-to-date", res


# Spark jobs one run() launches at the fixture (sf0.001, 8 pids, the
# shared local[8] session). Lower a count when a change removes jobs;
# never raise one to make a change pass.
RUN_MAX_JOBS = {
    # the input's footer inference + the staging action (the writer's
    # shuffle map stage, then the per-pid aggregate's two stages); the
    # commits' metrics and fingerprints are that action's aggregates
    "fresh": 4,
    # nothing committed, so no change scan: the same jobs as fresh
    "fresh-incremental": 4,
    # every pid committed: the input is not even read
    "plain": 0,
    # footer inference + the change scan's two-stage groupBy
    "incremental": 3,
}


def test_run_launches_at_most_its_job_budget(spark, job_factory):
    sc = spark.sparkContext
    job, inc = job_factory("jobs"), {"incremental": True}
    runs = (("fresh", job, {}), ("plain", job, {}),
            ("incremental", job, inc),
            ("fresh-incremental", job_factory("jobs-inc"), inc))
    got = {}
    try:
        for name, j, kw in runs:
            group = f"run-{name}-{j.out_dir}"
            sc.setJobGroup(group, name)
            res = j.run(**kw)
            assert res["status"] == ("ok" if name.startswith("fresh")
                                     else "up-to-date"), (name, res)
            got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    over = {n: (got[n], RUN_MAX_JOBS[n]) for n in got
            if got[n] > RUN_MAX_JOBS[n]}
    assert not over, (over, got)


def test_second_driver_claim_fails_while_lease_held(job_factory):
    """Q-concurrency: the claim loop assumes ONE driver owns a sink —
    with a live lease in place, a second driver's run() must fail
    cleanly (LeaseHeld), not double-promote."""
    from v2_ocr_spark.pipeline.sink import LeaseHeld, SinkLease

    job = job_factory("leased")
    other = SinkLease(job.out_dir, owner="driver-B").acquire()
    try:
        with pytest.raises(LeaseHeld):
            job.run()
    finally:
        other.release()
    # with the lease released the same job claims and completes
    res = job.run()
    assert res["status"] == "ok" and res["committed"]


def test_stale_lease_taken_over_after_ttl(job_factory, tmp_path):
    """A crashed driver's lease (heartbeat older than ttl) must not
    brick the sink: the next driver takes over."""
    import json
    import os

    from v2_ocr_spark.pipeline.sink import SinkLease

    job = job_factory("stale-lease")
    os.makedirs(job.out_dir, exist_ok=True)
    with open(os.path.join(job.out_dir, "_lease.json"), "w") as f:
        json.dump({"owner": "dead-driver", "heartbeat": 0.0}, f)
    res = job.run()  # default ttl 600s >> age -> takeover
    assert res["status"] == "ok" and res["committed"]
    # run() released its lease on exit
    assert not os.path.exists(os.path.join(job.out_dir, "_lease.json"))


def test_lease_reentrant_same_owner(tmp_path):
    from v2_ocr_spark.pipeline.sink import SinkLease

    d = str(tmp_path / "re")
    import os

    os.makedirs(d)
    a = SinkLease(d, owner="me").acquire()
    b = SinkLease(d, owner="me").acquire()  # same owner: allowed
    b.heartbeat()
    a.release()


def test_lease_heartbeat_survives_long_staging(job_factory, monkeypatch):
    """A staging phase longer than the lease ttl must not let another
    driver take over mid-write: the background heartbeater keeps the
    lease fresh, so a rival acquire still fails DURING the run."""
    from v2_ocr_spark.pipeline import runner
    from v2_ocr_spark.pipeline.sink import LeaseHeld, SinkLease

    seen = {}
    extract_turns = runner.extract_turns

    def slow_extract(df, **kw):
        # runs driver-side while the job holds the lease: a rival
        # acquire here (with a ttl shorter than the elapsed time would
        # be without heartbeats) must still be refused
        import time as _t

        _t.sleep(2.5)
        try:
            SinkLease(job.out_dir, owner="rival", ttl_seconds=2.0).acquire()
            seen["rival"] = "acquired"
        except LeaseHeld:
            seen["rival"] = "refused"
        return extract_turns(df, **kw)

    monkeypatch.setattr(runner, "extract_turns", slow_extract)
    job = job_factory("beat", lease_ttl_seconds=2.0)
    res = job.run()
    assert res["status"] == "ok"
    assert seen["rival"] == "refused"


def test_fully_emptied_sink_stays_readable_and_repopulatable(
    spark, job_factory
):
    """Review regression (r4): deleting EVERY conversation leaves only
    empty pid dirs — parquet schema inference has no footer and used to
    raise, making a legitimately emptied table unreadable (and
    un-repopulatable, since merge_upsert reads before it writes). The
    schema sidecar keeps read() working."""
    from v2_ocr_spark.pipeline.maintenance import (
        delete_conversation_keys,
        merge_upsert,
    )

    job = job_factory("emptyall")
    job.run()
    all_keys = job.read_output().select("conv_id").distinct()
    delete_conversation_keys(spark, job.out_dir, all_keys)
    emptied = job.read_output()
    assert emptied.count() == 0
    assert "extracted_text" in emptied.columns  # schema survived
    # repopulate through the MERGE path (insert-only upsert)
    upd = spark.createDataFrame(
        [("convX", 0)], "conv_id string, turn_idx int"
    ).withColumn("extracted_text", F.lit("hello"))
    merge_upsert(spark, job.out_dir, upd)
    back = job.read_output()
    assert back.count() == 1
    assert back.collect()[0].extracted_text == "hello"


def test_merge_upsert_rejects_duplicate_keys(spark, job_factory):
    """Review regression (r4): duplicate (conv_id, turn_idx) keys in
    one updates batch would MULTIPLY rows through the full_outer join
    (and compound on re-merge); Iceberg MERGE errors on multiple
    matches — so does this."""
    from v2_ocr_spark.pipeline.maintenance import merge_upsert

    job = job_factory("dupkeys")
    job.run()
    some = job.read_output().limit(1).select("conv_id", "turn_idx")
    dup = some.unionByName(some).withColumn(
        "extracted_text", F.lit("x")
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_upsert(spark, job.out_dir, dup)


def test_maintenance_refused_while_lease_held(spark, job_factory):
    """Review regression (r4): every sink mutator takes the ownership
    lease — an unleased delete racing a live run would interleave as a
    lost update (deleted rows resurrected by a merge built from the
    pre-delete snapshot)."""
    from v2_ocr_spark.pipeline.maintenance import delete_conversations
    from v2_ocr_spark.pipeline.sink import LeaseHeld, SinkLease

    job = job_factory("leasemaint")
    job.run()
    holder = SinkLease(job.out_dir, owner="other-driver").acquire()
    try:
        with pytest.raises(LeaseHeld):
            delete_conversations(spark, job.out_dir, ["conv00000001"])
    finally:
        holder.release()
    # after release the same delete goes through
    res = delete_conversations(spark, job.out_dir, ["conv00000001"])
    assert res["rewritten"]


def test_staging_swept_after_runs_and_crashes(job_factory, monkeypatch):
    """Review regression (r4): _staging must not accumulate run dirs —
    a successful run removes its own leftover, and the next run sweeps
    a crashed run's stranded full table copy."""
    import os

    job = job_factory("sweep")
    with monkeypatch.context() as m:
        crash_before_promoting(m, 0)
        with pytest.raises(RuntimeError, match="injected crash"):
            job.run()
    # the crashed run's staged copy is still on disk right now
    assert os.listdir(job.sink.staging_root)
    res = job.run()
    assert res["status"] == "ok"
    assert os.listdir(job.sink.staging_root) == []
