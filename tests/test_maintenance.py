"""S5 merge-upsert / S7 delete cascade / S8 retention — row-level
operations on the committed output, with idempotence checks."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from v2_ocr_spark.pipeline.maintenance import (
    delete_conversations,
    merge_upsert,
    retention_cleanup,
)
from v2_ocr_spark.pipeline.runner import ExtractionJob

NP = 8


@pytest.fixture()
def populated(spark, sf_small, tmp_path):
    out = str(tmp_path / "table")
    job = ExtractionJob(
        spark, f"{sf_small}/transcripts.parquet", out, num_partitions=NP
    )
    job.run()
    return out, job


def test_merge_upsert_updates_and_inserts(spark, populated):
    out, job = populated
    before = job.read_output()
    n0 = before.count()
    updates = spark.createDataFrame(
        [
            ("conv00000001", 1, "PATCHED", None),   # update existing
            ("convnew00", 1, "BRAND NEW", None),     # insert new conv
        ],
        "conv_id string, turn_idx int, extracted_text string, error string",
    )
    res = merge_upsert(spark, out, updates)
    assert res["rewritten"]
    after = job.read_output()
    assert after.count() == n0 + 1
    got = {
        (r.conv_id, r.turn_idx): r.extracted_text
        for r in after.where(
            F.col("conv_id").isin("conv00000001", "convnew00")
            & (F.col("turn_idx") == 1)
        ).collect()
    }
    assert got[("conv00000001", 1)] == "PATCHED"
    assert got[("convnew00", 1)] == "BRAND NEW"


def test_merge_upsert_idempotent(spark, populated):
    out, job = populated
    updates = spark.createDataFrame(
        [("conv00000002", 1, "X", None)],
        "conv_id string, turn_idx int, extracted_text string, error string",
    )
    merge_upsert(spark, out, updates)
    snap1 = (
        job.read_output()
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
    )
    merge_upsert(spark, out, updates)
    snap2 = (
        job.read_output()
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
    )
    assert snap1.equals(snap2)
    dups = (
        job.read_output()
        .groupBy("conv_id", "turn_idx")
        .count()
        .where("count > 1")
        .count()
    )
    assert dups == 0


def test_delete_cascade(spark, populated):
    out, job = populated
    assert job.read_output().where("conv_id = 'conv00000003'").count() > 0
    res = delete_conversations(spark, out, ["conv00000003"])
    assert len(res["rewritten"]) == 1  # only the owning partition rewritten
    after = job.read_output()
    assert after.where("conv_id = 'conv00000003'").count() == 0
    # other conversations untouched
    assert after.where("conv_id = 'conv00000001'").count() > 0


def test_retention_cleanup(spark, populated, sf_small):
    out, job = populated
    conv = spark.read.parquet(f"{sf_small}/conversations.parquet")
    old_ids = [
        r.conv_id
        for r in conv.where("created_at < timestamp '2025-01-01 02:00:00'")
        .select("conv_id")
        .collect()
    ]
    assert old_ids
    retention_cleanup(spark, out, conv, "2025-01-01 02:00:00")
    after = job.read_output()
    assert after.where(F.col("conv_id").isin(old_ids)).count() == 0


def test_backfill_column(spark, populated):
    from v2_ocr_spark.pipeline.maintenance import backfill_column

    out, job = populated
    n0 = job.read_output().count()
    backfill_column(
        spark, out, "text_len",
        F.length(F.coalesce("extracted_text", F.lit(""))),
    )
    after = job.read_output()
    assert after.count() == n0
    assert "text_len" in after.columns
    bad = after.where(
        F.col("text_len") != F.length(F.coalesce("extracted_text", F.lit("")))
    ).count()
    assert bad == 0


def test_compact_partitions_preserves_rows(spark, sf_small, tmp_path):
    import glob

    from v2_ocr_spark.pipeline.maintenance import compact_partitions
    from v2_ocr_spark.pipeline.runner import ExtractionJob

    out = str(tmp_path / "compact")
    job = ExtractionJob(
        spark, f"{sf_small}/transcripts.parquet", out, num_partitions=4
    )
    # fragment: cap records per file so every partition lands many small
    # files (the state a long append/maxRecordsPerFile workload reaches)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "500")
    try:
        job.run()
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")

    def files():
        return sorted(glob.glob(f"{out}/data/pid=*/part-*.parquet"))

    def snapshot():
        return (
            job.read_output()
            .select("conv_id", "turn_idx", "extracted_text")
            .orderBy("conv_id", "turn_idx")
            .collect()
        )

    before_rows, before_files = snapshot(), files()
    assert len(before_files) > 4  # one file per task -> several per pid
    res = compact_partitions(spark, out)
    assert sorted(res["rewritten"]) == [0, 1, 2, 3]
    after_files = files()
    assert len(after_files) == 4  # one packed file per partition
    assert snapshot() == before_rows
    # lineage records the compaction as its own snapshot op
    ops = {c["metrics"].get("op") for c in job.sink.committed().values()}
    assert "compact" in ops


def test_compact_never_rehashes_pids(spark, sf_small, tmp_path):
    """Regression: compaction keeps rows under their stored pid — a
    conv_id re-hash under a different partition count would silently
    drop rows into never-promoted partitions."""
    from v2_ocr_spark.pipeline.maintenance import compact_partitions
    from v2_ocr_spark.pipeline.runner import ExtractionJob

    out = str(tmp_path / "cmp2")
    job = ExtractionJob(
        spark, f"{sf_small}/transcripts.parquet", out, num_partitions=4
    )
    job.run()
    before = job.read_output().count()
    # the old signature took num_partitions=32 by default and re-hashed:
    # with a 4-partition sink that lost ~7/8 of the rows
    compact_partitions(spark, out)
    assert job.read_output().count() == before
    pid_map = (
        job.read_output()
        .select("conv_id", "pid")
        .distinct()
        .groupBy("conv_id")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert pid_map == 0


def test_sink_recovers_interrupted_promote(spark, populated):
    """Crash window between the two promote renames: the data dir is
    gone but the pre-swap .old dir survives — reads roll back to the
    marker's snapshot instead of silently returning a partial table."""
    import os

    out, job = populated
    n = job.read_output().count()
    dst = os.path.join(out, "data", "pid=1")
    os.replace(dst, dst + ".old.deadbeef")
    # age the snapshot past the in-flight-promote grace window
    os.utime(dst + ".old.deadbeef", (0, 0))
    assert not os.path.isdir(dst)
    assert job.read_output().count() == n  # recover_partials healed it
    assert os.path.isdir(dst)


def test_partition_count_mismatch_rejected(spark, populated):
    import pytest as _pytest

    from v2_ocr_spark.pipeline.maintenance import merge_upsert
    from v2_ocr_spark.pipeline.runner import ExtractionJob

    out, job = populated  # written with NP=8
    updates = spark.createDataFrame(
        [("conv00000001", 1, "X", None)],
        "conv_id string, turn_idx int, extracted_text string, error string",
    )
    # merge_upsert adopts the pinned count
    merge_upsert(spark, out, updates)
    # a second job over the same sink with a different count fails loudly
    job2 = ExtractionJob(spark, job.input_path, out, num_partitions=16)
    with _pytest.raises(ValueError, match="num_partitions=8"):
        job2.run()


def test_upsert_into_unextracted_partition_refused(
    spark, sf_small, tmp_path, monkeypatch
):
    import pytest as _pytest

    from v2_ocr_spark.pipeline.maintenance import merge_upsert
    from v2_ocr_spark.pipeline.runner import ExtractionJob
    from v2_ocr_spark.pipeline.sink import MergeSink

    out = str(tmp_path / "part")
    job = ExtractionJob(
        spark, f"{sf_small}/transcripts.parquet", out, num_partitions=8
    )
    # commit only a subset of partitions (injected crash at pid 4)
    promote = MergeSink.promote

    def crashing(self, run_id, pid, metrics):
        if pid == 4:
            raise RuntimeError("injected crash before promoting pid=4")
        return promote(self, run_id, pid, metrics)

    with monkeypatch.context() as m:
        m.setattr(MergeSink, "promote", crashing)
        with _pytest.raises(RuntimeError):
            job.run()
    committed = set(job.sink.committed())
    assert committed and 4 not in committed
    # find a conv hashing to an uncommitted pid
    from v2_ocr_spark.pipeline.sink import partition_id
    import pyspark.sql.functions as F2

    conv = (
        spark.read.parquet(f"{sf_small}/transcripts.parquet")
        .select("conv_id", partition_id("conv_id", 8).alias("p"))
        .where(~F2.col("p").isin(sorted(committed)))
        .first()
    )
    updates = spark.createDataFrame(
        [(conv["conv_id"], 1, "X", None)],
        "conv_id string, turn_idx int, extracted_text string, error string",
    )
    with _pytest.raises(ValueError, match="unextracted"):
        merge_upsert(spark, out, updates)


def test_delete_never_commits_unextracted_partition(
    spark, sf_small, tmp_path, monkeypatch
):
    """A delete (or retention pass) reaching a pid that extraction has
    not committed yet reports it under 'skipped': publishing it empty
    would make the job treat it as done and never extract its turns."""
    from v2_ocr_spark.pipeline.sink import MergeSink, partition_id

    src = f"{sf_small}/transcripts.parquet"
    job = ExtractionJob(spark, src, str(tmp_path / "t"), num_partitions=NP)
    promote = MergeSink.promote

    def crashing(self, run_id, pid, metrics):
        if pid == 4:
            raise RuntimeError("injected crash before promoting pid=4")
        return promote(self, run_id, pid, metrics)

    with monkeypatch.context() as m:
        m.setattr(MergeSink, "promote", crashing)
        with pytest.raises(RuntimeError):
            job.run()
    assert 4 not in job.sink.committed()
    turns = spark.read.parquet(src).where(partition_id("conv_id", NP) == 4)
    res = delete_conversations(spark, job.out_dir, [turns.first()["conv_id"]])
    assert res["rewritten"] == [] and res["skipped"] == [4]
    job.run()
    assert job.read_output().where("pid = 4").count() == turns.count()


def test_retention_accepts_date_only_cutoff(spark, populated, sf_small):
    from v2_ocr_spark.pipeline.maintenance import retention_cleanup

    out, job = populated
    conv = spark.read.parquet(f"{sf_small}/conversations.parquet")
    # date-only form must pin to UTC midnight, not crash the ANSI cast
    res = retention_cleanup(spark, out, conv, "2025-01-01")
    # nothing is older than the epoch-day start in the fixture
    assert res["rewritten"] == []


def test_merge_upsert_null_overwrites_matched_column(spark, populated):
    """MERGE semantics: a matched source row replaces its update
    columns UNCONDITIONALLY — an update carrying NULL (error cleared
    after successful re-extraction) must not resurrect the stale
    value via coalesce."""
    out, job = populated
    first = spark.createDataFrame(
        [("conv00000003", 1, "partial", "boom: transient")],
        "conv_id string, turn_idx int, extracted_text string, error string",
    )
    merge_upsert(spark, out, first)
    retry = spark.createDataFrame(
        [("conv00000003", 1, "clean text", None)],
        "conv_id string, turn_idx int, extracted_text string, error string",
    )
    merge_upsert(spark, out, retry)
    row = (
        job.read_output()
        .where((F.col("conv_id") == "conv00000003") & (F.col("turn_idx") == 1))
        .collect()[0]
    )
    assert row.extracted_text == "clean text"
    assert row.error is None  # NULL replaced the stale error string


def test_delete_keys_plan_is_anti_join_not_in_literal(spark, populated):
    """The delete path must scale with DataFrame keys: 10^5 keys plan
    as a left-anti join, never a collected In-literal (driver OOM +
    plan blowup at retention scale)."""
    from v2_ocr_spark.pipeline.maintenance import delete_conversation_keys

    out, job = populated
    n0 = job.read_output().count()
    victim = "conv00000005"
    n_victim = job.read_output().where(F.col("conv_id") == victim).count()
    assert n_victim > 0
    keys = (
        spark.range(100_000)
        .select(F.concat(F.lit("ghost"), F.col("id")).alias("conv_id"))
        .unionByName(spark.createDataFrame([(victim,)], "conv_id string"))
    )
    current = job.read_output()
    plan = current.join(
        keys.select("conv_id").distinct(), "conv_id", "left_anti"
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert " IN (" not in plan  # no literal id list anywhere

    res = delete_conversation_keys(spark, out, keys)
    assert res["rewritten"]
    after = job.read_output()
    assert after.where(F.col("conv_id") == victim).count() == 0
    assert after.count() == n0 - n_victim


def test_repair_status_violations_idempotent(spark, sf_small, tmp_path):
    """P9 self-heal write-back: violating rows get error cleared in
    place; a second run is a no-op (reference clears doc.error and
    re-saves, document-status-validation.ts:39-46)."""
    from v2_ocr_spark.pipeline.maintenance import repair_status_violations

    conv_dir = str(tmp_path / "conversations.parquet")
    base = spark.read.parquet(f"{sf_small}/conversations.parquet")
    # inject violations: flip 3 rows to queued with an error string
    victims = [r.conv_id for r in base.limit(3).collect()]
    broken = base.withColumns(
        {
            "status": F.when(
                F.col("conv_id").isin(victims), F.lit("queued")
            ).otherwise(F.col("status")),
            "error": F.when(
                F.col("conv_id").isin(victims), F.lit("stale boom")
            ).otherwise(F.col("error")),
        }
    )
    broken.write.mode("overwrite").parquet(conv_dir)

    res1 = repair_status_violations(spark, conv_dir)
    assert res1 == {"repaired": 3, "rewritten": True}
    healed = spark.read.parquet(conv_dir)
    assert (
        healed.where(
            (F.col("status") == "queued") & F.col("error").isNotNull()
        ).count()
        == 0
    )
    # non-violating rows untouched
    assert healed.count() == base.count()
    res2 = repair_status_violations(spark, conv_dir)
    assert res2 == {"repaired": 0, "rewritten": False}


def test_clear_all_data_leaves_lineage_marker(spark, populated):
    """Clear-all wipes data/commits/checkpoints but records a
    lastCleared marker (what was dropped + when), and the sink is
    reusable afterwards (reference: clearAllData + lastCleared)."""
    import pytest as _pytest

    from v2_ocr_spark.pipeline.maintenance import clear_all_data, last_cleared

    out, job = populated
    n0 = job.read_output().count()
    assert n0 > 0
    assert last_cleared(out) is None
    marker = clear_all_data(spark, out)
    assert marker["rows_cleared"] == n0
    assert len(marker["partitions_cleared"]) == NP
    with _pytest.raises(FileNotFoundError):
        job.read_output()
    persisted = last_cleared(out)
    assert persisted["rows_cleared"] == n0
    assert persisted["cleared_at"] > 0
    # the sink is reusable: a fresh run repopulates completely
    res = job.run()
    assert res["status"] == "ok"
    assert job.read_output().count() == n0
    # clearing did not erase the lastCleared lineage
    assert last_cleared(out)["rows_cleared"] == n0


def test_repair_crash_window_self_heals(spark, sf_small, tmp_path):
    """Review regression: a crash between the repair swap's two renames
    leaves only the .bak dir — the next call must restore it before
    reading instead of crashing on a missing table."""
    import os
    import shutil

    from v2_ocr_spark.pipeline.maintenance import repair_status_violations

    conv_dir = str(tmp_path / "conv")
    base = spark.read.parquet(f"{sf_small}/conversations.parquet")
    base.write.mode("overwrite").parquet(conv_dir)
    n = spark.read.parquet(conv_dir).count()
    # simulate the window: table renamed to .bak, new dir never landed
    os.rename(conv_dir, conv_dir + ".bak")
    assert not os.path.exists(conv_dir)
    res = repair_status_violations(spark, conv_dir)
    assert os.path.exists(conv_dir)
    assert spark.read.parquet(conv_dir).count() == n
    assert res == {"repaired": 0, "rewritten": False}
    # the other leftover: stale .bak NEXT TO a live dir is dropped
    shutil.copytree(conv_dir, conv_dir + ".bak")
    repair_status_violations(spark, conv_dir)
    assert not os.path.exists(conv_dir + ".bak")


def test_clear_all_refused_while_lease_held(spark, populated):
    """Review regression: clear_all_data must not wipe a sink owned by
    a live driver (it would resurrect partitions + falsify the audit
    marker)."""
    import pytest as _pytest

    from v2_ocr_spark.pipeline.maintenance import clear_all_data
    from v2_ocr_spark.pipeline.sink import LeaseHeld, SinkLease

    out, job = populated
    other = SinkLease(out, owner="live-driver").acquire()
    try:
        with _pytest.raises(LeaseHeld):
            clear_all_data(spark, out)
        assert job.read_output().count() > 0  # nothing wiped
    finally:
        other.release()
    marker = clear_all_data(spark, out)
    assert marker["rows_cleared"] > 0


def test_stale_lease_takeover_single_winner(tmp_path):
    """Review regression: two drivers racing a STALE lease must not
    both win — the O_EXCL takeover marker admits exactly one."""
    import json
    import os

    from v2_ocr_spark.pipeline.sink import LeaseHeld, SinkLease

    d = str(tmp_path / "race")
    os.makedirs(d)
    with open(os.path.join(d, "_lease.json"), "w") as f:
        json.dump({"owner": "dead", "heartbeat": 0.0}, f)
    import uuid as _uuid

    import pytest as _pytest

    # a rival (A) has claimed the takeover marker for this exact stale
    # lease content but not yet swapped the lease in — the window where
    # the old write-then-confirm let BOTH drivers 'win'
    marker = (
        os.path.join(d, "_lease.json")
        + ".takeover."
        + _uuid.uuid5(_uuid.NAMESPACE_URL, "dead@0.0").hex[:16]
    )
    with open(marker, "w"):
        pass
    b = SinkLease(d, owner="B")
    with _pytest.raises(LeaseHeld, match="already claimed"):
        b.acquire()
    # a marker from a CRASHED winner expires after ttl: age it, then
    # the next-but-one attempt succeeds
    os.utime(marker, (0, 0))
    with _pytest.raises(LeaseHeld):  # this attempt clears the marker
        b.acquire()
    b.acquire()
    b.release()


def test_lease_unreadable_file_presumed_held(tmp_path):
    """ADVICE regression: an EMPTY lease file (a winner's O_EXCL create
    whose json hasn't landed, or corruption) must read as HELD — the
    round-2 code took the reentrant branch and silently stole it."""
    import os

    import pytest as _pytest

    from v2_ocr_spark.pipeline.sink import LeaseHeld, SinkLease

    d = str(tmp_path / "steal")
    os.makedirs(d)
    with open(os.path.join(d, "_lease.json"), "w"):
        pass  # exists, zero bytes — json.load fails
    with _pytest.raises(LeaseHeld, match="unreadable"):
        SinkLease(d, owner="thief").acquire()
    # the file was NOT clobbered by the failed acquire
    assert os.path.getsize(os.path.join(d, "_lease.json")) == 0


def test_lease_heartbeat_fenced_by_generation(tmp_path):
    """ADVICE regression: a paused owner resuming after a ttl takeover
    must get LeaseHeld from heartbeat(), never clobber the new owner's
    lease (generation fence + flock'd read-decide-write)."""
    import json
    import os

    import pytest as _pytest

    from v2_ocr_spark.pipeline.sink import LeaseHeld, SinkLease

    d = str(tmp_path / "fence")
    os.makedirs(d)
    a = SinkLease(d, owner="A", ttl_seconds=0.01).acquire()
    # A pauses past ttl; B takes over (gen bumps above A's)
    import time as _time

    _time.sleep(0.05)
    b = SinkLease(d, owner="B", ttl_seconds=0.01).acquire()
    with _pytest.raises(LeaseHeld):
        a.heartbeat()
    # B's lease is intact after A's refused heartbeat
    with open(os.path.join(d, "_lease.json")) as f:
        cur = json.load(f)
    assert cur["owner"] == "B"
    assert cur["gen"] > a.gen
    b.release()


def test_repair_sweeps_stale_staging_dirs(spark, sf_small, tmp_path):
    """ADVICE regression: a crash after the staging write but before
    the first rename strands '<dir>.staging-<uuid>' table copies; the
    next repair call must sweep them."""
    import os
    import shutil

    from v2_ocr_spark.pipeline.maintenance import repair_status_violations

    conv_dir = str(tmp_path / "conv")
    base = spark.read.parquet(f"{sf_small}/conversations.parquet")
    base.write.mode("overwrite").parquet(conv_dir)
    shutil.copytree(conv_dir, conv_dir + ".staging-deadbeef")
    shutil.copytree(conv_dir, conv_dir + ".staging-cafe0001")
    res = repair_status_violations(spark, conv_dir)
    assert res["repaired"] == 0
    assert not os.path.exists(conv_dir + ".staging-deadbeef")
    assert not os.path.exists(conv_dir + ".staging-cafe0001")
    # live table untouched
    assert spark.read.parquet(conv_dir).count() == base.count()


@pytest.mark.parametrize("op", ["merge", "delete", "backfill", "compact"])
def test_maintenance_commit_metrics_per_op(spark, populated, op):
    """Every maintenance rewrite commits exactly {op, rows_after, at,
    input_rows, input_sig}: the batch input fingerprint carries forward
    unchanged (so run(incremental=True) never re-extracts a maintained
    partition) and rows_after is the partition's row count."""
    from v2_ocr_spark.pipeline.maintenance import (
        backfill_column,
        compact_partitions,
    )

    out, job = populated
    batch = {pid: c["metrics"] for pid, c in job.sink.committed().items()}
    if op == "merge":
        updates = spark.createDataFrame(
            [("conv00000001", 1, "PATCHED", None),
             ("convnew00", 1, "BRAND NEW", None)],
            "conv_id string, turn_idx int, extracted_text string, "
            "error string",
        )
        res = merge_upsert(spark, out, updates)
    elif op == "delete":
        res = delete_conversations(spark, out, ["conv00000003"])
    elif op == "backfill":
        res = backfill_column(
            spark, out, "text_len", F.length("extracted_text")
        )
    else:
        res = compact_partitions(spark, out)
    assert res["rewritten"]
    commits = job.sink.committed()
    rows = {
        r.pid: r.n
        for r in job.read_output().groupBy("pid")
        .agg(F.count("*").alias("n")).collect()
    }
    for pid in res["rewritten"]:
        m = commits[pid]["metrics"]
        assert set(m) == {"op", "rows_after", "at", "input_rows", "input_sig"}
        assert m["op"] == op
        assert (m["input_rows"], m["input_sig"]) == (
            batch[pid]["input_rows"], batch[pid]["input_sig"],
        )
        assert m["rows_after"] == rows.get(pid, 0)


def test_crashed_rewrite_staging_swept_by_next_rewrite(
    spark, populated, monkeypatch
):
    """A maintenance rewrite that crashes before promoting strands its
    full staged copy under _staging; the next writer of the sink (here
    another maintenance op, not the extraction job) must sweep it."""
    import os

    from v2_ocr_spark.pipeline.maintenance import compact_partitions
    from v2_ocr_spark.pipeline.sink import MergeSink

    out, job = populated

    def crash(self, run_id, pid, metrics):
        raise RuntimeError("injected crash before promote")

    with monkeypatch.context() as m:
        m.setattr(MergeSink, "promote", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            delete_conversations(spark, out, ["conv00000003"])
    assert os.listdir(job.sink.staging_root)  # the stranded copy
    compact_partitions(spark, out)
    assert os.listdir(job.sink.staging_root) == []
