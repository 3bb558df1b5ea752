"""Transactional per-partition merge sink — the Iceberg MERGE stand-in.

This sandbox ships no Iceberg runtime jar, so the sink reproduces the
semantics the engine needs from Iceberg (and that the reference gets
from Postgres upserts keyed (document_id, page_number, user_id),
results-service.ts:125,137):

  * idempotent writes keyed on a logical partition id — re-running a
    partition replaces its files, never duplicates rows;
  * atomic visibility — a partition's files become readable only when
    its commit marker lands (os.rename is atomic on POSIX), the
    file-level analog of an Iceberg snapshot commit;
  * lineage + metrics per commit (snapshot_id, run_id, row counts,
    char counts, timing) — FIXTURES.md §3 metrics schema.

Layout:
    out/
      data/pid=<N>/part-*.parquet     (+ .crc sidecars; staged, then promoted)
      _staging/<run>/pid=<N>/...      (written by stage()'s own pass, one
                                       per task; invisible until promoted)
      _commits/<N>.json               (atomic marker: snapshot + metrics)
      _checkpoints/<N>.json           (claim-state machine, Q1/Q2)

This module is the single owner of the table's write rules: every
writer — the extraction job, each maintenance rewrite, the streaming
landing loop — enters ``with sink.owned():`` (lease + heartbeat,
pinned partition count, healed promotes), keys its rows with
``sink.pid()``, hands them to MergeSink.stage and its per-pid commit
metrics to MergeSink.publish. No caller touches ``_staging``.

On a real cluster the same call sites target Iceberg:
``MERGE INTO extracted t USING updates s ON t.conv_id = s.conv_id AND
t.turn_idx = s.turn_idx WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED
THEN INSERT ...`` — only this module changes.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import struct
import threading
import time
import uuid
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

# 7-status lifecycle, reference types/index.ts:33
QUEUED, PROCESSING, COMPLETED, ERROR = "queued", "processing", "completed", "error"

# logical partition count of a table whose first writer names none
DEFAULT_PARTITIONS = 32


def partition_id(col: str = "conv_id",
                 num_partitions: int = DEFAULT_PARTITIONS) -> F.Column:
    return F.pmod(F.xxhash64(F.col(col)), F.lit(num_partitions)).cast("int")


# Hadoop's checksum sidecar, the one LocalFileSystem verifies on every
# read: "crc\0", the chunk size, then one CRC32 per chunk, big-endian
CRC_CHUNK = 512


def crc_sidecar(data) -> bytes:
    view = memoryview(data)
    sums = [zlib.crc32(view[i:i + CRC_CHUNK])
            for i in range(0, len(view), CRC_CHUNK)]
    return b"crc\0" + struct.pack(f">i{len(sums)}I", CRC_CHUNK, *sums)


def _write_file(path: str, table: pa.Table, tag) -> None:
    """``table`` as one snappy row group at ``path`` (no Arrow schema in
    the footer: Spark reads the parquet types), then its ``.crc``
    sidecar, each written under a hidden temp name unique to ``tag``
    (the task attempt) and renamed into place."""
    out = pa.BufferOutputStream()
    pq.write_table(table, out, compression="snappy",
                   row_group_size=table.num_rows, store_schema=False)
    data = out.getvalue()
    d, name = os.path.split(path)
    for final, payload in ((name, data), (f".{name}.crc", crc_sidecar(data))):
        tmp = os.path.join(d, f".{final}.{tag}.tmp")
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, os.path.join(d, final))


def _write_pids(batches, staging: str, limit: int):
    """MergeSink.stage's mapInArrow body. One task's rows, sorted by
    (pid, conv_id, turn_idx), become ``pid=<N>/part-<partition>.parquet``
    under ``staging``, without the pid column; with ``limit`` > 0 a file
    rolls to ``part-<partition>-<k>.parquet`` every ``limit`` rows. A
    retried attempt rewrites the same names. Every batch is passed on
    for the caller's aggregates. A task holds one file's rows until it
    writes them."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    stem, tag = f"part-{ctx.partitionId():05d}", ctx.taskAttemptId()
    held, pid, rows, k = [], None, 0, 0

    def flush():
        nonlocal held, rows, k
        if held:
            d = os.path.join(staging, f"pid={pid}")
            os.makedirs(d, exist_ok=True)
            name = f"{stem}-{k}.parquet" if k else f"{stem}.parquet"
            table = pa.Table.from_batches(held).drop_columns(["pid"])
            _write_file(os.path.join(d, name), table, tag)
            held, rows, k = [], 0, k + 1

    for batch in batches:
        col = batch.column("pid").to_numpy()
        cuts = [0, *(np.flatnonzero(col[1:] != col[:-1]) + 1), len(col)]
        for lo, hi in zip(cuts, cuts[1:]):
            if col[lo] != pid:
                flush()
                pid, k = int(col[lo]), 0
            while lo < hi:
                n = hi - lo if limit <= 0 else min(hi - lo, limit - rows)
                held.append(batch.slice(lo, n))
                rows, lo = rows + n, lo + n
                if rows == limit:
                    flush()
        yield batch
    flush()


class CheckpointStore:
    """Per-partition state machine with crash recovery (Q1/Q2).

    State transitions mirror document-status-utils.ts:13-42: moving to
    a non-error state clears the error field and stamps updated_at.
    """

    def __init__(self, out_dir: str):
        self.dir = os.path.join(out_dir, "_checkpoints")
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, pid: int) -> str:
        return os.path.join(self.dir, f"{pid}.json")

    def get(self, pid: int) -> dict:
        try:
            with open(self._path(pid), encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            return {"partition_id": pid, "status": QUEUED, "attempt": 0,
                    "run_id": None, "started_at": None, "completed_at": None,
                    "snapshot_id": None, "error": None}

    def set(self, pid: int, **updates) -> dict:
        state = self.get(pid)
        state.update(updates)
        if state["status"] != ERROR:
            state["error"] = updates.get("error")
        state["updated_at"] = time.time()
        tmp = self._path(pid) + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(state, f)
        os.replace(tmp, self._path(pid))
        return state

    def recover(self) -> list[int]:
        """Q2 (queue-manager.ts:53-61): on startup, any partition left
        'processing' by a crashed run is reset to 'queued' — safe
        because the sink is idempotent."""
        reset = []
        for fn in os.listdir(self.dir):
            if not fn.endswith(".json"):
                continue
            pid = int(fn[:-5])
            if self.get(pid)["status"] == PROCESSING:
                self.set(pid, status=QUEUED)
                reset.append(pid)
        return reset


class LeaseHeld(RuntimeError):
    """Another live driver owns this sink."""


class SinkLease:
    """Cross-process ownership lease for a sink directory.

    The claim loop's CheckpointStore get+set is atomic per FILE but not
    across processes: two drivers pointed at one sink could both see
    'queued' and both stage/promote the same partition. The lease makes
    ownership explicit: one `_lease.json`, created with O_CREAT|O_EXCL
    (atomic on POSIX), carrying owner id + heartbeat. A second driver's
    acquire() fails with LeaseHeld while the heartbeat is fresh; a
    lease whose heartbeat is older than ttl_seconds is presumed crashed
    and may be taken over. The takeover itself is serialized through an
    O_EXCL marker named deterministically from the stale lease's exact
    content — every racer computes the same name, so the filesystem
    grants it to exactly one (a write-then-confirm would be
    check-then-act: two racers whose write/read pairs don't interleave
    both 'confirm').

    Every read-decide-write on the lease runs under an flock(2) on a
    sidecar `_lease.json.lock`, which makes acquire / heartbeat /
    takeover / release mutually atomic on local/POSIX filesystems:
    a racer can never observe the winner's momentarily-empty O_EXCL
    file, and a paused owner resuming past ttl re-reads the lease
    under the lock and sees the takeover before it can clobber it.
    The lease also carries a monotonically increasing `gen` fencing
    token (takeover = stale gen + 1); heartbeat() refuses to write
    over a higher generation or a different owner.

    Honest scope: flock + rename-CAS is solid on local/POSIX
    filesystems and sufficient for the one-driver-per-sink contract.
    On filesystems without real flock semantics (some NFS mounts) the
    lock degrades to advisory-only and a heartbeat that raced a
    takeover could still land between that takeover's read and write —
    the gen fence narrows but cannot close that window without a
    server-side CAS. On a real lakehouse the equivalent fencing is
    Iceberg's optimistic snapshot commit (CAS on table metadata),
    which rejects the loser's commit rather than its claim."""

    def __init__(self, out_dir: str, owner: str | None = None,
                 ttl_seconds: float = 600.0):
        import socket

        self.path = os.path.join(out_dir, "_lease.json")
        self.owner = owner or (
            f"{socket.gethostname()}:{os.getpid()}:{uuid.uuid4().hex[:6]}"
        )
        self.ttl = ttl_seconds
        self.gen = 0

    @contextlib.contextmanager
    def _locked(self):
        """Exclusive flock on the sidecar lock file for the duration of
        one lease read-decide-write."""
        import fcntl

        fd = os.open(self.path + ".lock", os.O_CREAT | os.O_WRONLY)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _read(self) -> dict | None:
        try:
            with open(self.path, encoding="utf-8") as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _write(self) -> None:
        tmp = self.path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(
                {"owner": self.owner, "heartbeat": time.time(),
                 "gen": self.gen},
                f,
            )
        os.replace(tmp, self.path)

    def acquire(self) -> "SinkLease":
        # one retry covers the release-between-open-and-read race: the
        # holder removed the lease after our O_EXCL failed, so a second
        # pass creates it cleanly
        for attempt in (0, 1):
            with self._locked():
                try:
                    fd = os.open(
                        self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                    )
                except FileExistsError:
                    cur = self._read()
                    if cur is None:
                        if not os.path.exists(self.path):
                            continue  # released mid-race — retry create
                        # file exists but is unreadable: NEVER treat as
                        # ours (the old code did, letting a racer steal
                        # a winner's momentarily-empty lease on
                        # non-flock filesystems) — presume held
                        raise LeaseHeld(
                            f"lease file at {self.path} exists but is "
                            "unreadable (winner mid-create or corrupt); "
                            "presumed held"
                        )
                    if cur.get("owner") == self.owner:
                        # our own lease (reentrant) — refresh it
                        self.gen = max(self.gen, int(cur.get("gen", 0)))
                        self._write()
                        return self
                    age = time.time() - float(cur.get("heartbeat", 0))
                    if age < self.ttl:
                        raise LeaseHeld(
                            f"sink lease at {self.path} held by "
                            f"{cur.get('owner')} (heartbeat {age:.0f}s "
                            f"ago, ttl {self.ttl:.0f}s)"
                        )
                    # STALE lease: under flock the takeover is already
                    # serialized; the O_EXCL marker (named from the
                    # exact stale content, so every racer computes the
                    # same name and the filesystem grants exactly one)
                    # keeps single-winner semantics even where flock is
                    # advisory-only. A marker left by a crashed winner
                    # expires after ttl and is cleared for the next
                    # attempt.
                    tag = f"{cur.get('owner')}@{cur.get('heartbeat')}"
                    marker = (
                        self.path
                        + ".takeover."
                        + uuid.uuid5(uuid.NAMESPACE_URL, tag).hex[:16]
                    )
                    try:
                        mfd = os.open(
                            marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                        )
                    except FileExistsError:
                        if time.time() - os.path.getmtime(marker) >= self.ttl:
                            try:
                                os.remove(marker)  # crashed winner
                            except FileNotFoundError:
                                pass
                        raise LeaseHeld(
                            f"takeover of stale lease at {self.path} "
                            "already claimed by another driver"
                        )
                    os.close(mfd)
                    try:
                        # fencing token: strictly above the stale lease
                        self.gen = int(cur.get("gen", 0)) + 1
                        self._write()
                    finally:
                        try:
                            os.remove(marker)
                        except FileNotFoundError:
                            pass
                    return self
                else:
                    self.gen = max(self.gen, 0) + 1
                    with os.fdopen(fd, "w", encoding="utf-8") as f:
                        json.dump(
                            {"owner": self.owner, "heartbeat": time.time(),
                             "gen": self.gen},
                            f,
                        )
                    return self
        raise LeaseHeld(
            f"lease at {self.path} kept vanishing mid-acquire; giving up"
        )

    def heartbeat(self) -> None:
        with self._locked():
            cur = self._read()
            if (
                cur is None
                or cur.get("owner") != self.owner
                or int(cur.get("gen", 0)) > self.gen
            ):
                raise LeaseHeld(
                    f"lease at {self.path} no longer owned by {self.owner}"
                )
            self._write()

    def release(self) -> None:
        with self._locked():
            cur = self._read()
            if cur is not None and cur.get("owner") == self.owner:
                try:
                    os.remove(self.path)
                except FileNotFoundError:
                    pass


class MergeSink:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.data_dir = os.path.join(out_dir, "data")
        self.commits_dir = os.path.join(out_dir, "_commits")
        self.staging_root = os.path.join(out_dir, "_staging")
        self.checkpoints = CheckpointStore(out_dir)
        self.dirs = (self.data_dir, self.commits_dir, self.staging_root,
                     self.checkpoints.dir)
        for d in self.dirs:
            os.makedirs(d, exist_ok=True)
        self.num_partitions = None
        self._lease = self._lost = None

    # -- ownership -----------------------------------------------------------

    @contextlib.contextmanager
    def owned(self, num_partitions: int | None = None,
              ttl_seconds: float = 600.0):
        """Own the table for the block; every writer stages in here.

        1. Hold the SinkLease, heartbeat every min(max(ttl/3, 1), ttl/2)
           seconds: a long Spark stage must never look like a dead
           owner. If the lease is lost anyway, stage() won't promote.
        2. Pin the partition count in ``_table.json`` at first write and
           VALIDATE every later caller against it — re-hashing conv_id
           under another count scatters rows into partitions that are
           never promoted. None adopts the stored count
           (DEFAULT_PARTITIONS on a fresh table); pid() derives under it.
        3. Heal interrupted promotes with no grace: the owner is the
           only writer, so no '.old' dir belongs to a live promote."""
        lease = SinkLease(self.out_dir, ttl_seconds=ttl_seconds).acquire()
        stop, lost = threading.Event(), threading.Event()
        interval = min(max(ttl_seconds / 3.0, 1.0), ttl_seconds / 2.0)

        def _beat() -> None:
            while not stop.wait(interval):
                try:
                    lease.heartbeat()
                except Exception:  # noqa: BLE001 — lost to a takeover
                    lost.set()
                    return

        beater = threading.Thread(target=_beat, daemon=True)
        beater.start()
        try:
            path = os.path.join(self.out_dir, "_table.json")
            try:
                with open(path, encoding="utf-8") as f:
                    stored = int(json.load(f)["num_partitions"])
            except FileNotFoundError:
                stored = int(num_partitions or DEFAULT_PARTITIONS)
                with open(path + ".tmp", "w", encoding="utf-8") as f:
                    json.dump({"num_partitions": stored}, f)
                os.replace(path + ".tmp", path)
            if num_partitions is not None and int(num_partitions) != stored:
                raise ValueError(
                    f"table at {self.out_dir} was written with "
                    f"num_partitions={stored}; caller passed "
                    f"{num_partitions} — re-hashing under a different "
                    "count would lose rows"
                )
            self.num_partitions = stored
            self.recover_partials(grace_seconds=0)
            self._lease, self._lost = lease, lost
            yield self
        finally:
            self._lease = self._lost = None
            stop.set()
            beater.join(timeout=5)
            lease.release()

    def pid(self, col: str = "conv_id") -> F.Column:
        """The pid column under the table's pinned partition count."""
        if self.num_partitions is None:
            raise RuntimeError(f"pid() before owned() on {self.out_dir}")
        return partition_id(col, self.num_partitions)

    # -- read side ---------------------------------------------------------

    def committed(self) -> dict[int, dict]:
        out = {}
        for fn in os.listdir(self.commits_dir):
            if fn.endswith(".json"):
                with open(os.path.join(self.commits_dir, fn), encoding="utf-8") as f:
                    out[int(fn[:-5])] = json.load(f)
        return out

    def recover_partials(self, grace_seconds: float = 60.0) -> list[int]:
        """Heal promote()'s crash window: a committed pid whose data
        dir is missing but whose pre-swap '.old' dir survives rolls
        back to that prior snapshot (its commit marker still describes
        it). Orphaned '.old' dirs next to a live data dir are cleanup
        leftovers and are removed.

        '.old' dirs YOUNGER than grace_seconds are left alone — they
        most likely belong to an in-flight promote() in another
        process, and restoring (or deleting) them mid-swap would make
        the promoter's second rename fail. Pass grace_seconds=0 only
        from a context that owns the sink exclusively (owned())."""
        restored = []
        now = time.time()
        for pid in self.committed():
            dst = os.path.join(self.data_dir, f"pid={pid}")
            olds = sorted(glob.glob(dst + ".old.*"), key=os.path.getmtime)
            olds = [
                o for o in olds
                if now - os.path.getmtime(o) >= grace_seconds
            ]
            if os.path.isdir(dst):
                for o in olds:
                    shutil.rmtree(o, ignore_errors=True)
                continue
            if olds:
                os.replace(olds[-1], dst)
                for o in olds[:-1]:
                    shutil.rmtree(o, ignore_errors=True)
                restored.append(pid)
        return restored

    def committed_paths(self) -> list[str]:
        self.recover_partials()
        paths = []
        for pid in sorted(self.committed()):
            p = os.path.join(self.data_dir, f"pid={pid}")
            if not os.path.isdir(p):
                # a committed pid ALWAYS has a dir (promote publishes an
                # empty one for row-less partitions) — missing means
                # corruption; surfacing beats silently returning a
                # partial table
                raise RuntimeError(
                    f"committed partition pid={pid} has no data dir under "
                    f"{self.data_dir} and no recoverable .old snapshot"
                )
            paths.append(p)
        return paths

    def record_schema(self, schema) -> None:
        """Persist the table schema (incl. the pid partition column)
        next to the table metadata. Writers call this before staging;
        read() then works even when EVERY committed partition is empty
        (a retention pass that matches everything leaves only empty
        pid dirs — parquet inference has no footer to read and would
        raise, making a legitimately emptied table unreadable and
        un-repopulatable since merge_upsert reads before it writes)."""
        path = os.path.join(self.out_dir, "_schema.json")
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(schema.json())
        os.replace(tmp, path)

    def stored_schema(self):
        try:
            with open(
                os.path.join(self.out_dir, "_schema.json"), encoding="utf-8"
            ) as f:
                from pyspark.sql.types import StructType

                return StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return None

    def read(self, spark):
        paths = self.committed_paths()
        if not paths:
            raise FileNotFoundError(f"no committed partitions under {self.out_dir}")
        reader = spark.read.option("basePath", self.data_dir)
        schema = self.stored_schema()
        if schema is not None:
            # explicit schema: no footer inference (cheaper listing at
            # many-partition scale, and the only way an all-empty table
            # stays readable); pid is parsed from the dir names
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    # -- write side ----------------------------------------------------------

    def staging_dir(self, run_id: str) -> str:
        return os.path.join(self.staging_root, run_id)

    def stage(self, rows, run_id: str, *aggs) -> dict:
        """Stage ``rows`` (which carry ``pid``) as run ``run_id`` and
        return {pid: Row of ``aggs``} over what was staged — steps 1-5
        of the commit protocol; ``publish`` is steps 6-7. Only inside
        owned().

        1. Sweep stale run dirs: a crash between staging and promote
           strands a complete staged copy, and every writer runs under
           the lease, so no other run's staging is live.
        2. Schema sidecar BEFORE staging: keeps the table readable even
           if every partition later empties (see record_schema).
        3. One pass per task writes its pids' files itself
           (``_write_pids``: pyarrow, ``.crc`` sidecars, no pid
           column), turn-sorted at rest (W1). No file goes through
           Hadoop's local filesystem, which forks a ``chmod`` per file
           and directory where no native library loads.
        4. The same action aggregates the batches the writer passed on:
           ONE groupBy fills every pid's aggregates. Pids that staged
           no rows are absent. Temp files a failed attempt stranded
           are swept once it succeeded.
        5. Fence: if the heartbeater lost the lease to a takeover,
           promoting now would race the new owner — raise LeaseHeld."""
        if self._lease is None:
            raise RuntimeError(f"stage() outside owned() on {self.out_dir}")
        for stale in os.listdir(self.staging_root):
            shutil.rmtree(
                os.path.join(self.staging_root, stale), ignore_errors=True
            )
        self.record_schema(rows.schema)
        staging = os.path.abspath(self.staging_dir(run_id))
        # Spark's own writer honours this setting; so does ours
        limit = int(rows.sparkSession.conf.get(
            "spark.sql.files.maxRecordsPerFile"))
        written = (
            rows.repartition("pid")
            .sortWithinPartitions("pid", "conv_id", "turn_idx")
            .mapInArrow(
                lambda batches: _write_pids(batches, staging, limit),
                rows.schema,
            )
        )
        by_pid = {
            int(r.pid): r for r in written.groupBy("pid").agg(*aggs).collect()
        }
        for tmp in glob.glob(os.path.join(glob.escape(staging), "pid=*",
                                          ".*.tmp")):
            os.remove(tmp)
        if self._lost.is_set():
            raise LeaseHeld(
                f"sink lease for {self.out_dir} was lost during staging "
                f"of run {run_id}; refusing to promote"
            )
        self._lease.heartbeat()
        return by_pid

    def publish(self, run_id: str, metrics: dict[int, dict]):
        """Promote each staged pid of ``run_id`` in order, yielding
        (pid, commit) after each so callers can record per-partition
        state between commits; once all are published, remove the run
        dir (promote renamed every pid dir out of it). A generator:
        nothing is promoted until it is iterated."""
        for pid, m in metrics.items():
            yield pid, self.promote(run_id, pid, m)
        shutil.rmtree(self.staging_dir(run_id), ignore_errors=True)

    def promote(self, run_id: str, pid: int, metrics: dict) -> dict:
        """Atomically publish one partition: swap its data dir into
        place, then drop the commit marker (the 'snapshot')."""
        src = os.path.join(self.staging_dir(run_id), f"pid={pid}")
        if not os.path.isdir(src):
            # partition produced no rows — publish an empty dir
            os.makedirs(src, exist_ok=True)
        dst = os.path.join(self.data_dir, f"pid={pid}")
        old = dst + f".old.{uuid.uuid4().hex[:8]}"
        if os.path.isdir(dst):
            os.replace(dst, old)
        os.replace(src, dst)

        commit = {
            "snapshot_id": uuid.uuid4().hex,
            "run_id": run_id,
            "partition_id": pid,
            "committed_at": time.time(),
            "metrics": metrics,
        }
        tmp = os.path.join(self.commits_dir, f"{pid}.json.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(commit, f)
        os.replace(tmp, os.path.join(self.commits_dir, f"{pid}.json"))
        # the pre-swap snapshot is deleted ONLY after the new marker is
        # durable — a crash in any earlier window leaves either the new
        # dir (stale marker, idempotent rerun heals) or the .old dir
        # (recover_partials rolls back to the marker's snapshot)
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
        return commit

    def metrics_rows(self) -> list[dict]:
        """Flattened lineage/metrics table (FIXTURES.md §3)."""
        rows = []
        for pid, c in sorted(self.committed().items()):
            row = {"run_id": c["run_id"], "partition_id": pid,
                   "snapshot_id": c["snapshot_id"]}
            row.update(c.get("metrics", {}))
            rows.append(row)
        return rows
