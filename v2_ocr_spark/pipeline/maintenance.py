"""Table-maintenance operations on the merge sink — the Iceberg
row-level-operation stand-ins.

  * merge_upsert  — S5 (results-service.ts:51-148): idempotent upsert of
    update rows keyed (conv_id, turn_idx); re-applying the same batch is
    a no-op. Iceberg equivalent: MERGE INTO ... WHEN MATCHED UPDATE.
  * delete_conversations — S7 cascade delete (queue-service.ts:233-283):
    removes every turn of the given conversations.
    Iceberg equivalent: DELETE FROM extracted WHERE conv_id IN (...).
  * retention_cleanup — S8 (stats-service.ts:143-201): drop turns of
    conversations created before a cutoff.

All of them (and backfill_column / compact_partitions) rewrite ONLY
the partitions that contain affected rows (pmod(xxhash64(conv_id), P)
pins each conversation to one partition), then commit each rewritten
partition atomically through ONE MergeSink.stage action and
MergeSink.publish — the copy-on-write pattern Iceberg uses, at
per-partition granularity. The streaming landing
(stateful.stream_extract_upsert) commits each micro-batch through the
same rewrite: its first-reached pids ride along as ``fresh`` pids.
Untouched partitions keep their snapshots: at 100 TB a delete of one
conversation rewrites 1/P of the table, not all of it. Every public
mutator runs its whole read-modify-promote inside MergeSink.owned():
two unleased mutators hitting the same pid would interleave as lost
updates (a concurrent delete's survivors overwritten by a merge built
from the pre-delete snapshot, resurrecting the deleted rows).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from v2_ocr_spark.pipeline.sink import MergeSink


def _affected_pids(sink: MergeSink, keys: DataFrame) -> list[int]:
    return [
        r.pid for r in keys.select(sink.pid().alias("pid")).distinct().collect()
    ]


def _rewrite(spark: SparkSession, sink: MergeSink, pids: list[int],
             op: str, edit=lambda current: current, fresh=()) -> dict:
    """Copy-on-write: read the stored rows of ``pids``, stage
    ``edit(rows)`` (keyed by pid) as their replacement content and
    promote each through the sink's commit path — for every
    maintenance op, inside the caller's MergeSink.owned().

    Only COMMITTED pids are rewritten; the rest come back under
    ``skipped``. Promoting a pid extraction has not committed would
    publish a commit holding only the rewrite's rows (none, for a
    delete) that pending_partitions then skips forever — silent loss of
    the partition's whole input. The one exception is ``fresh``:
    uncommitted pids whose rows ``edit`` itself brings, because the
    caller's input IS their extraction (a streamed micro-batch). They
    stage in the same action and commit under the same run_id with
    ``op: "bootstrap"`` and no input fingerprint, so changed_partitions
    skips them. On a table with no committed pid, ``edit`` gets None.

    Maintenance rewrites do not consume new input, so each promoted
    commit CARRIES FORWARD the prior commit's input fingerprint
    (input_rows/input_sig) — without this, the next incremental run
    would see a missing baseline, treat the partition as changed, and
    re-extract it from the raw source (resurrecting deleted
    conversations and reverting upserts/backfills)."""
    prior = sink.committed()
    targets = sorted(set(pids) & set(prior))
    fresh = set(fresh)
    skipped = sorted(set(pids) - set(prior) - fresh)
    if not targets and not fresh:
        return {"run_id": None, "rewritten": [], "skipped": skipped}
    run_id = f"{op}-{uuid.uuid4().hex[:8]}"
    # prune on the STORED pid directory column, not a recomputed hash —
    # a pmod(xxhash64(...)) predicate cannot map to the partition dirs,
    # so Spark would list and scan all P partitions to rewrite one
    current = (sink.read(spark).where(F.col("pid").isin(targets))
               if prior else None)
    staged = sink.stage(edit(current), run_id, F.count("*").alias("n"))
    metrics = {}
    for pid in sorted(fresh.union(targets)):
        prev = prior.get(pid, {}).get("metrics", {})
        metrics[pid] = {
            "op": op if pid in prior else "bootstrap",
            "rows_after": staged[pid].n if pid in staged else 0,
            "at": time.time(),
            **{k: prev[k] for k in ("input_rows", "input_sig") if k in prev},
        }
    committed = [pid for pid, _ in sink.publish(run_id, metrics)]
    return {"run_id": run_id, "rewritten": committed, "skipped": skipped}


def merge_upsert(
    spark: SparkSession,
    out_dir: str,
    updates: DataFrame,
) -> dict:
    """MERGE updates INTO extracted ON (conv_id, turn_idx) —
    matched rows replaced, new rows inserted, everything idempotent.

    Upserting into a partition that extraction has not committed yet is
    refused — promoting it would publish a commit containing only the
    upsert rows, and the partition's base turns would never be
    extracted."""
    sink = MergeSink(out_dir)
    with sink.owned():
        # Iceberg MERGE errors when one target row matches several
        # source rows; a silent full_outer join would instead MULTIPLY
        # rows (and compound on every re-merge). Enforce source-key
        # uniqueness up front — one agg pass over the (small) updates.
        dup = (
            updates.groupBy("conv_id", "turn_idx")
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            r = dup[0]
            raise ValueError(
                "updates contain duplicate merge keys, e.g. "
                f"(conv_id={r['conv_id']!r}, turn_idx={r['turn_idx']}) x"
                f"{r['count']}; dedupe the batch before merging"
            )
        pids = _affected_pids(sink, updates.select("conv_id").distinct())
        uncommitted = sorted(set(pids) - set(sink.committed()))
        if uncommitted:
            raise ValueError(
                f"cannot upsert into unextracted partitions {uncommitted} "
                f"of {sink.out_dir}; run the extraction job first"
            )
        return _merge(spark, sink, updates, pids, fresh=())


def _merge(spark: SparkSession, sink: MergeSink, updates: DataFrame,
           pids: list[int], fresh) -> dict:
    """The merge rewrite of ``pids``, for a caller inside
    ``sink.owned()`` that has already checked ``updates``: unique keys,
    and every pid committed except the ``fresh`` ones its rows
    bootstrap (see _rewrite)."""
    upd_cols = set(updates.columns) - {"conv_id", "turn_idx"}
    # Row presence, not column NULL, decides whether an update applies:
    # a matched source row replaces its columns UNCONDITIONALLY — a
    # NULL in the update (e.g. error cleared after a successful
    # re-extraction) must overwrite the stale non-NULL target value,
    # exactly like Iceberg MERGE's WHEN MATCHED UPDATE SET t.c = s.c.
    # (coalesce(s.c, t.c) would silently keep the old value.) The flag
    # is non-NULL only on source rows, so F.when() falls through to the
    # target value for unmatched targets.
    src = updates.withColumn("_src_present", F.lit(True))

    def merged(current: DataFrame | None) -> DataFrame:
        if current is None:  # nothing committed: every row is inserted
            return updates.withColumn("pid", sink.pid())
        return (
            current.alias("t")
            .join(src.alias("s"), ["conv_id", "turn_idx"], "full_outer")
            .select(
                "conv_id",
                "turn_idx",
                *[
                    (
                        F.when(F.col("s._src_present"), F.col(f"s.{c}"))
                        .otherwise(F.col(f"t.{c}"))
                        if c in upd_cols
                        else F.col(f"t.{c}")
                    ).alias(c)
                    for c in current.columns
                    if c not in ("conv_id", "turn_idx")
                ],
            )
            # inserted rows carry no stored pid — derive it for every row
            .withColumn("pid", sink.pid())
        )

    return _rewrite(spark, sink, pids, "merge", merged, fresh)


def delete_conversations(
    spark: SparkSession,
    out_dir: str,
    conv_ids: list[str],
) -> dict:
    """Cascade-delete by explicit id list (the point-delete API)."""
    keys = spark.createDataFrame([(c,) for c in conv_ids], "conv_id string")
    return delete_conversation_keys(spark, out_dir, keys)


def delete_conversation_keys(
    spark: SparkSession,
    out_dir: str,
    keys: DataFrame,
) -> dict:
    """Cascade-delete every turn of the conversations in the `keys`
    DataFrame (column conv_id).

    The keys STAY distributed: survivors come from a left-anti join,
    never from collecting ids to the driver and planting an In-literal
    — a retention pass at 100 TB can match millions of conv_ids, which
    would OOM the driver and blow up the plan. The only driver-side
    materialization is the affected PARTITION id set, bounded by the
    table's partition count regardless of key volume. Survivors keep
    their stored pid; a pid extraction has not committed yet is
    reported under ``skipped``, not published empty."""
    sink = MergeSink(out_dir)
    with sink.owned():
        keys = keys.select("conv_id").distinct().persist()
        try:
            return _rewrite(
                spark, sink, _affected_pids(sink, keys), "delete",
                lambda current: current.join(keys, "conv_id", "left_anti"),
            )
        finally:
            keys.unpersist()


def retention_cleanup(
    spark: SparkSession,
    out_dir: str,
    conversations: DataFrame,
    cutoff: str,
) -> dict:
    """Drop turns of conversations created before the cutoff timestamp
    (S8; the conversations dim supplies created_at).

    The cutoff is pinned to UTC unless it carries an explicit offset —
    a bare literal would parse in the session timezone and delete the
    wrong conversations from a non-UTC session (the repo-wide literal
    convention, relational.range_filter)."""
    import re as _re

    if _re.fullmatch(r"\d{4}-\d{2}-\d{2}", cutoff):
        # a bare date needs a time component before the offset — Spark
        # rejects '2025-01-01+00:00' under ANSI casting
        cutoff = cutoff + " 00:00:00+00:00"
    elif not _re.search(r"(?:[+-]\d{2}:?\d{2}|Z)$", cutoff):
        cutoff = cutoff + "+00:00"
    old = conversations.where(
        F.col("created_at") < F.lit(cutoff).cast("timestamp")
    ).select("conv_id")
    # keys flow into the delete as a DataFrame (anti-join), never as a
    # collected id list — retention can match millions of conversations
    return delete_conversation_keys(spark, out_dir, old)


def clear_all_data(spark: SparkSession, out_dir: str) -> dict:
    """Drop every committed partition, checkpoint and staging dir of a
    sink and record a `lastCleared` lineage marker — the analog of the
    reference's clear-all-data + lastCleared timestamp (indexed-db.ts
    clearAllData; stats-service.ts tracks lastCleared so the dashboard
    can show 'stats since <t>').

    The marker survives the wipe (it lives next to the table metadata,
    not under data/) and carries what was dropped: snapshot ids, row
    counts, partition count — enough for an auditor to see THAT data
    existed and when it was removed, without retaining the data. On
    Iceberg: DROP TABLE ... PURGE + a lineage row in an ops table.

    Runs inside MergeSink.owned(): wiping a sink under a LIVE driver
    would let its promote loop resurrect partitions into the 'cleared'
    layout and falsify the lastCleared audit row — with an active owner
    this raises LeaseHeld instead."""
    sink = MergeSink(out_dir)
    with sink.owned():
        committed = sink.committed()
        marker = {
            "cleared_at": time.time(),
            "partitions_cleared": sorted(committed),
            "snapshot_ids": [
                committed[p]["snapshot_id"] for p in sorted(committed)
            ],
            "rows_cleared": sum(
                int(c.get("metrics", {}).get("turns_seen", 0) or 0)
                for c in committed.values()
            ),
        }
        # the sink OWNS the layout — deriving the paths from it (not a
        # hardcoded name tuple) means a renamed or added directory can
        # never silently survive a 'clear all' (an audit defect: stale
        # data after a recorded wipe)
        for p in sink.dirs:
            shutil.rmtree(p, ignore_errors=True)
            # recreate the empty layout: live MergeSink/CheckpointStore
            # handles keep working (reads report 'no committed
            # partitions', not a missing-directory crash)
            os.makedirs(p, exist_ok=True)
        tmp = f"{out_dir}/_cleared.json.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(marker, f)
        os.replace(tmp, f"{out_dir}/_cleared.json")
        return marker


def last_cleared(out_dir: str) -> dict | None:
    """The lastCleared lineage marker, or None if never cleared."""
    try:
        with open(f"{out_dir}/_cleared.json", encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def repair_status_violations(
    spark: SparkSession,
    conversations_dir: str,
    repaired_at: str = "2025-01-01 00:00:00+00:00",
) -> dict:
    """Self-heal the queued+error status invariant on a conversations
    table directory — the write-back half of P9 (the reference's
    validateDocumentStatuses clears doc.error and re-saves each
    violating row, document-status-validation.ts:39-46).

    Idempotent MERGE semantics: only violating rows change (error ->
    NULL), everything else is rewritten byte-identical; a second run
    finds zero violations and leaves the directory untouched. The swap
    is atomic at directory level (staging write + rename), the parquet
    stand-in for `MERGE INTO conversations ... WHEN MATCHED THEN
    UPDATE SET error = NULL` on Iceberg."""
    import os
    import shutil

    from v2_ocr_spark.operators.relational import repair_status_invariant

    backup = conversations_dir + ".bak"
    # self-heal the two-rename crash window FIRST: the swap below is
    # two renames, and a crash between them leaves no live dir — only
    # the fixed-name backup. Recovering here (and in any later call)
    # means the table is never unreadable for longer than one repair
    # attempt. A backup lying NEXT TO a live dir is the other crash
    # leftover (after the second rename, before cleanup) — the live
    # dir is newer, so the backup is safe to drop.
    if not os.path.exists(conversations_dir) and os.path.exists(backup):
        os.rename(backup, conversations_dir)
    elif os.path.exists(backup):
        shutil.rmtree(backup)
    # a crash after the staging write but before the first rename
    # leaves a fully-written '<dir>.staging-<uuid>' next to the intact
    # live dir — harmless to correctness but each crashed repair
    # strands another whole table copy; sweep them here
    import glob as _glob

    for stale in _glob.glob(conversations_dir + ".staging-*"):
        shutil.rmtree(stale, ignore_errors=True)

    conv = spark.read.parquet(conversations_dir)
    violating = (F.col("status") == "queued") & F.col("error").isNotNull()
    n = conv.where(violating).count()
    if n == 0:
        return {"repaired": 0, "rewritten": False}
    repaired = repair_status_invariant(conv, repaired_at).select(
        *conv.columns
    )
    staging = f"{conversations_dir}.staging-{uuid.uuid4().hex[:8]}"
    repaired.write.mode("overwrite").parquet(staging)
    os.rename(conversations_dir, backup)
    os.rename(staging, conversations_dir)
    shutil.rmtree(backup)
    return {"repaired": n, "rewritten": True}


def backfill_column(
    spark: SparkSession,
    out_dir: str,
    col_name: str,
    expr: F.Column,
) -> dict:
    """S11 — schema-evolution backfill (reference:
    dist/scripts/migrate-base64-to-storage.js:44-120 migrates a column
    across all rows). Adds/replaces a derived column over every
    committed partition via the same copy-on-write rewrite; on Iceberg
    this is ``ALTER TABLE ADD COLUMN`` + ``UPDATE``, metadata-cheap.
    Rows keep their stored pid (conv_id is untouched, so re-hashing is
    both unnecessary and the class of bug this module guards against)."""
    sink = MergeSink(out_dir)
    with sink.owned():
        return _rewrite(
            spark, sink, sorted(sink.committed()), "backfill",
            lambda current: current.withColumn(col_name, expr),
        )


def compact_partitions(
    spark: SparkSession,
    out_dir: str,
    pids: list[int] | None = None,
) -> dict:
    """Small-files maintenance — the MergeSink analog of Iceberg's
    ``rewrite_data_files``. Long append workloads (and any write under
    spark.sql.files.maxRecordsPerFile) leave partitions holding many
    small files; reads then pay per-file open cost. Rewriting a
    partition's rows lands them as one densely-packed, turn-sorted
    file, with the atomic per-partition promote preserving snapshot
    lineage (op='compact' in the commit metrics). Rows are
    byte-identical before and after.

    Each row KEEPS the pid it is already stored under — compaction must
    never re-derive partition assignment (a conv_id re-hash under a
    different partition count would scatter rows into pids that are not
    being promoted, i.e. silent data loss). Uncommitted pids are
    returned under ``skipped``.

    At 100 TB: run per-partition on a schedule (the pids argument
    bounds each run), exactly like Iceberg compaction jobs."""
    sink = MergeSink(out_dir)
    with sink.owned():
        return _rewrite(
            spark, sink, sorted(sink.committed()) if pids is None else pids,
            "compact",
        )
