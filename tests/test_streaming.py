"""Structured Streaming extraction: backlog processed exactly-once,
output equals the batch pipeline's, restart adds nothing new."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F

from v2_ocr_spark.operators.extract import extract_turns
from v2_ocr_spark.streaming import stream_extract


def test_stream_extract_equals_batch(spark, sf_small, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    shutil.copytree(sf_small, src, ignore=shutil.ignore_patterns(
        "conversations*", "transcripts_expected*"))

    q = stream_extract(spark, src, out, ckpt)
    q.awaitTermination(300)

    got = (
        spark.read.parquet(out)
        .select("conv_id", "turn_idx", "extracted_text")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    batch = (
        extract_turns(spark.read.parquet(f"{sf_small}/transcripts.parquet"))
        .select("conv_id", "turn_idx", "extracted_text")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert got.equals(batch)

    # restart over the same backlog: the source commit log skips
    # processed files — no duplicates (exactly-once resume)
    q2 = stream_extract(spark, src, out, ckpt)
    q2.awaitTermination(300)
    n = spark.read.parquet(out).count()
    assert n == len(batch)
    dups = (
        spark.read.parquet(out)
        .groupBy("conv_id", "turn_idx")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def _expected_sessions_pandas(events_pdf, gap_seconds=1800.0):
    """Driver-side reference: closed sessions per user (the final open
    session per user stays in state, not in the output)."""
    closed = []
    for uid, g in events_pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        start = last = None
        n = 0
        for ts in g["ts"]:
            t = ts.timestamp()
            if last is None:
                start = last = t
                n = 1
            elif t - last > gap_seconds:
                closed.append((uid, start, last, n))
                start = last = t
                n = 1
            else:
                last = t
                n += 1
    return sorted(closed)


def test_stream_sessionize_stateful(spark, sf_small, tmp_path):
    """applyInPandasWithState sessionizer: emitted rows == every closed
    session; open sessions held in the state store."""
    import os

    from v2_ocr_spark.streaming.stateful import stream_sessionize

    src = str(tmp_path / "ev_in")
    os.makedirs(src)
    shutil.copy("/root/testdata/sf0.001/events.parquet", src)

    q = stream_sessionize(
        spark, src, str(tmp_path / "ev_out"), str(tmp_path / "ev_ckpt")
    )
    q.awaitTermination(300)

    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(str(tmp_path / "ev_out")).collect()
    )
    events = spark.read.parquet(f"{src}/events.parquet").toPandas()
    assert got == _expected_sessions_pandas(events)
    assert len(got) > 0


def test_stream_turn_metrics_watermarked(spark, sf_small, tmp_path):
    """Watermark + windowed agg: closed windows match the batch
    computation of the same windows."""
    from v2_ocr_spark.operators.extract import with_payload_kind
    from v2_ocr_spark.streaming.stateful import stream_turn_metrics

    src = str(tmp_path / "tm_in")
    shutil.copytree(sf_small, src, ignore=shutil.ignore_patterns(
        "conversations*", "transcripts_expected*"))

    q = stream_turn_metrics(
        spark, src, str(tmp_path / "tm_out"), str(tmp_path / "tm_ckpt"),
        window="1 hour", watermark="0 seconds",
    )
    q.awaitTermination(300)

    got = (
        spark.read.parquet(str(tmp_path / "tm_out"))
        .orderBy("window_start", "payload_kind")
        .toPandas()
    )
    batch = (
        with_payload_kind(spark.read.parquet(f"{sf_small}/transcripts.parquet"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "payload_kind")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("chars_in"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "payload_kind", "n_turns", "chars_in",
        )
        .orderBy("window_start", "payload_kind")
        .toPandas()
    )
    # append mode emits only windows closed by the final watermark; the
    # max event time closes every window strictly before it
    open_cut = batch["window_start"].max()
    closed = batch[batch["window_start"] < open_cut].reset_index(drop=True)
    got = got[got["window_start"] < open_cut].reset_index(drop=True)
    assert len(got) > 0
    assert got.equals(closed)


def test_stream_extract_upsert_foreachbatch(spark, sf_small, tmp_path):
    """foreachBatch landing in the MergeSink: stream result equals the
    batch pipeline; replay is a no-op; appended files merge in."""
    import os

    from v2_ocr_spark.pipeline.sink import MergeSink
    from v2_ocr_spark.streaming.stateful import stream_extract_upsert

    src = str(tmp_path / "fb_in")
    out = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")
    os.makedirs(src)
    shutil.copy(f"{sf_small}/transcripts.parquet", src)

    q = stream_extract_upsert(spark, src, out, ckpt, num_partitions=4)
    q.awaitTermination(300)

    sink = MergeSink(out)
    got = sink.read(spark)
    batch = extract_turns(spark.read.parquet(f"{sf_small}/transcripts.parquet"))
    assert got.count() == batch.count()

    # replay over the same backlog: source commit log skips it
    q2 = stream_extract_upsert(spark, src, out, ckpt, num_partitions=4)
    q2.awaitTermination(300)
    assert sink.read(spark).count() == batch.count()

    # append: a new conversation merges in, existing rows upsert
    extra = spark.createDataFrame(
        [("convstream0", 1, "user", "streamed turn", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    extra.coalesce(1).write.mode("append").parquet(src)
    q3 = stream_extract_upsert(spark, src, out, ckpt, num_partitions=4)
    q3.awaitTermination(300)
    final = sink.read(spark)
    assert final.count() == batch.count() + 1
    assert (
        final.where("conv_id = 'convstream0'").first()["extracted_text"]
        == "streamed turn"
    )
    dups = (
        final.groupBy("conv_id", "turn_idx").count().where("count > 1").count()
    )
    assert dups == 0


def _land(spark, src: str, out: str, ckpt: str) -> tuple[int, int]:
    """One availableNow landing run into a 4-pid sink: (micro-batches
    that read rows, Spark jobs in the query's runId job group)."""
    from v2_ocr_spark.streaming.stateful import stream_extract_upsert

    q = stream_extract_upsert(spark, src, out, ckpt, num_partitions=4)
    q.awaitTermination(300)
    batches = sum(1 for p in q.recentProgress if p.numInputRows)
    tracker = spark.sparkContext.statusTracker()
    return batches, len(tracker.getJobIdsForGroup(str(q.runId)))


def _first_conversation_and_rest(spark, sf_small):
    t = spark.read.parquet(f"{sf_small}/transcripts.parquet")
    first = t.agg(F.min("conv_id")).first()[0]
    return t.where(F.col("conv_id") == first), t.where(
        F.col("conv_id") != first)


def test_stream_mixed_micro_batch_is_one_rewrite(spark, sf_small, tmp_path):
    """A micro-batch reaching committed and new pids commits all of them
    under one run_id: new pids as bootstrap commits without an input
    fingerprint, the touched pid as a merge. The sink holds exactly the
    extraction of the input, and an incremental batch run over the same
    input keeps every streamed row."""
    from v2_ocr_spark.pipeline.runner import ExtractionJob
    from v2_ocr_spark.pipeline.sink import MergeSink

    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first, rest = _first_conversation_and_rest(spark, sf_small)
    first.coalesce(1).write.parquet(src)
    assert _land(spark, src, out, ckpt)[0] == 1
    sink = MergeSink(out)
    (touched,) = sink.committed()  # the first conversation's pid

    rest.coalesce(1).write.mode("append").parquet(src)
    assert _land(spark, src, out, ckpt)[0] == 1
    commits = sink.committed()
    assert sorted(commits) == [0, 1, 2, 3]
    assert len({c["run_id"] for c in commits.values()}) == 1, commits
    for pid, c in commits.items():
        m = c["metrics"]
        if pid == touched:
            assert m["op"] == "merge", (pid, m)
        else:
            assert m["op"] == "bootstrap" and "input_rows" not in m, (pid, m)

    cols = ["conv_id", "turn_idx", "extracted_text", "spans", "error"]
    want = extract_turns(spark.read.parquet(src)).select(cols)

    def assert_sink_is_extraction():
        got = sink.read(spark).select(cols)
        assert got.count() == want.count()
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    assert_sink_is_extraction()
    res = ExtractionJob(spark, src, out, 4).run(incremental=True)
    assert res["status"] == "up-to-date", res
    assert_sink_is_extraction()


# Spark jobs one micro-batch of stream_extract_upsert launches at the
# fixture (sf0.001, 4 pids, the shared local[8] session), counted in
# the query's runId job group. Lower a count when a change removes
# jobs; never raise one to make a change pass.
STREAM_MAX_JOBS = {
    # the pid collect over the input (the distinct's map job and its
    # result), then the staging action: the key dedupe's shuffle, the
    # writer's shuffle, the per-pid aggregate's two stages; an empty
    # table has no merge join
    "fresh": 6,
    # as fresh, plus the full_outer join's shuffle of the stored rows
    # (16 when new pids staged apart from the merge of touched ones)
    "mixed": 7,
    # the same single rewrite (13 when the merge re-checked a
    # persisted extraction)
    "touched": 7,
}


def test_stream_landing_launches_at_most_its_job_budget(
        spark, sf_small, tmp_path):
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first, rest = _first_conversation_and_rest(spark, sf_small)
    got = {}
    # one conversation into an empty sink, then the rest of the corpus
    # (new pids and the first one), then the first conversation again
    for name, rows in (("fresh", first), ("mixed", rest),
                       ("touched", first)):
        rows.coalesce(1).write.mode("append").parquet(src)
        batches, got[name] = _land(spark, src, out, ckpt)
        assert batches == 1, (name, batches)
    over = {n: (got[n], STREAM_MAX_JOBS[n]) for n in got
            if got[n] > STREAM_MAX_JOBS[n]}
    assert not over, (over, got)


def test_stream_and_batch_share_partition_count(spark, sf_small, tmp_path):
    """A default stream adopts the count a batch job pinned and pins the
    batch default on a fresh sink; only an explicit mismatch fails."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from v2_ocr_spark.pipeline.runner import ExtractionJob
    from v2_ocr_spark.streaming.stateful import stream_extract_upsert

    src = str(tmp_path / "in")
    os.makedirs(src)
    shutil.copy(f"{sf_small}/transcripts.parquet", src)
    out = str(tmp_path / "batch_first")
    job = ExtractionJob(spark, src, out)
    job.run()
    n = job.read_output().count()
    stream_extract_upsert(
        spark, src, out, str(tmp_path / "c1")
    ).awaitTermination(300)
    assert job.read_output().count() == n

    q = stream_extract_upsert(
        spark, src, out, str(tmp_path / "c2"), num_partitions=8
    )
    with pytest.raises(StreamingQueryException, match="num_partitions=32"):
        q.awaitTermination(300)

    fresh = str(tmp_path / "stream_first")
    stream_extract_upsert(
        spark, src, fresh, str(tmp_path / "c3")
    ).awaitTermination(300)
    ExtractionJob(spark, src, fresh).run()  # same default: no mismatch
    assert ExtractionJob(spark, src, fresh).read_output().count() == n


def test_stream_dedup_turns(spark, sf_small, tmp_path):
    """Re-delivered turns (duplicate files from an at-least-once
    upstream) emit exactly once through the watermarked dedup."""
    import os

    from v2_ocr_spark.streaming.stateful import stream_dedup_turns

    src = str(tmp_path / "dd_in")
    os.makedirs(src)
    shutil.copy(f"{sf_small}/transcripts.parquet", os.path.join(src, "a.parquet"))
    shutil.copy(f"{sf_small}/transcripts.parquet", os.path.join(src, "b.parquet"))
    n_unique = spark.read.parquet(f"{sf_small}/transcripts.parquet").count()

    q = stream_dedup_turns(
        spark, src, str(tmp_path / "dd_out"), str(tmp_path / "dd_ckpt")
    )
    q.awaitTermination(300)

    out = spark.read.parquet(str(tmp_path / "dd_out"))
    assert out.count() == n_unique
    dups = (
        out.groupBy("conv_id", "turn_idx").count().where("count > 1").count()
    )
    assert dups == 0


def test_advance_session_never_moves_high_water_mark_backward():
    """Review regression (r4): a late event from an open session
    arriving in a later micro-batch must not drag `last` backward —
    the next on-time event would measure its gap from the late
    timestamp and falsely split the session (the batch global-sort
    keeps it whole)."""
    from v2_ocr_spark.streaming.stateful import _advance_session

    gap = 30 * 60.0
    # batch 1: two on-time events 10 min apart, session open, last=4200
    start, last, n, closed = _advance_session(
        1, None, None, 0, [3600.0, 4200.0], gap
    )
    assert (start, last, n, closed) == (3600.0, 4200.0, 2, [])
    # batch 2: a LATE in-gap event (3900 < last), then an on-time one
    # 21 min after the TRUE high-water mark — same session throughout
    # (with the old unconditional last=t, the gap from 3900 to 5460 is
    # 26 min — still fine — but from 3900 a 21-min-later event at 5460
    # measured against a dragged-back last would split once the drag
    # exceeds gap; assert the mark never moves back at all)
    start, last, n, closed = _advance_session(
        1, start, last, n, [3900.0, 5460.0], gap
    )
    assert closed == []          # no false split
    assert last == 5460.0
    assert n == 4
    # an ANCIENT straggler (more than gap before the session start)
    # can never join the open session: it emits as its own closed
    # 1-event session and the open session stays untouched
    start, last, n, closed = _advance_session(
        1, start, last, n, [100.0], gap
    )
    assert closed == [(1, 100.0, 100.0, 1)]
    assert (start, last, n) == (3600.0, 5460.0, 4)
