"""The resumable extraction job — claim loop over logical partitions.

Mirrors the reference's queue semantics (SURVEY.md §2.9) on Spark:

  * Q1 state machine + Q2 crash recovery: CheckpointStore;
  * Q4 retries: failed partitions return to 'queued' with an attempt
    counter, up to max_attempts (mistral.ts:9-10 maxRetries analog);
  * Q6 chunk fan-out: logical partition = pmod(xxhash64(conv_id), P) —
    conversations never straddle partitions, so per-conv assembly
    stays partition-local; the salt keeps long conversations from
    skewing *file* sizes (rows within a conv spread over input splits
    are still processed by independent tasks — extraction is per-row);
  * Q9 per-unit persistence: each partition's output becomes durable
    (committed) independently; a crash loses at most in-flight
    partitions, and re-running them is idempotent (S5 MERGE key).

Efficiency at scale: the job reads the input ONCE per run (one
listing, shared by the incremental change scan and the extraction) and
stages all uncommitted partitions in one MergeSink.stage pass — each
task writes only its pids' files — then promotes them per partition.
Each commit's metrics and input fingerprint are aggregates of that
staging action; a plain run scans the input only to extract it. The
pid filter of a resume is not pushed to the scan (the pmod(xxhash64)
predicate lands in DataFilters, PushedFilters: []), so every rescan
reads the whole input and drops other pids' rows before extraction.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from v2_ocr_spark.operators.extract import extract_turns
from v2_ocr_spark.pipeline.sink import (
    COMPLETED,
    DEFAULT_PARTITIONS,
    ERROR,
    PROCESSING,
    LeaseHeld,
    MergeSink,
    partition_id,
)


def _fingerprint() -> dict:
    """A partition's input fingerprint, as aggregates over its input
    rows or over the rows staged from them (one per input row)."""
    return {"input_rows": F.count("*"),
            "input_sig": F.expr("bit_xor(xxhash64(conv_id, turn_idx))")}


def _commit_aggs() -> dict:
    """A commit's metrics, each an aggregate of the staging action."""
    nodes, kept = F.sum("nodes_seen"), F.sum("n_spans")
    return {
        "turns_seen": F.count("*"),
        "nodes_seen": nodes,
        "blocks_kept": kept,
        "blocks_dropped": nodes - kept,
        "turns_errored": F.count(F.when(F.col("error").isNotNull(), 1)),
        "chars_in": F.sum("chars_in"),
        "chars_out": F.sum("chars_out"),
        "proc_ms": F.expr("sum(proc_us) div 1000"),
        **_fingerprint(),
    }


class ExtractionJob:
    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        out_dir: str,
        num_partitions: int = DEFAULT_PARTITIONS,
        max_attempts: int = 3,
        lease_ttl_seconds: float = 600.0,
    ):
        self.spark = spark
        self.input_path = input_path
        self.out_dir = out_dir
        self.num_partitions = num_partitions
        self.max_attempts = max_attempts
        self.lease_ttl = lease_ttl_seconds
        self.sink = MergeSink(out_dir)
        self.checkpoints = self.sink.checkpoints

    # ---------------------------------------------------------------

    def pending_partitions(self) -> list[int]:
        committed = set(self.sink.committed())
        pending = []
        for pid in range(self.num_partitions):
            if pid in committed:
                continue
            state = self.checkpoints.get(pid)
            if state["status"] == ERROR and state["attempt"] >= self.max_attempts:
                continue  # exhausted retries; stays visible in checkpoints
            pending.append(pid)
        return pending

    def input_fingerprints(self) -> dict[int, dict]:
        """Per-partition input fingerprint: (row count, order-independent
        bit_xor of xxhash64(conv_id, turn_idx)). One narrow agg scan
        (2 columns, map-side partial) — detects appended, removed or
        re-keyed turns without reading text. Each commit records the
        same aggregates over the rows it staged (_commit_aggs), which
        are its input rows: extraction keeps every row. In-place edits
        (text, ts) are outside the change model (transcript stores are
        append-only event logs); ts is not fingerprinted because it
        does not survive extraction. To force a full recompute, clear
        the sink (maintenance.clear_all_data) or use a fresh out_dir.
        """
        return self._fingerprints(self.spark.read.parquet(self.input_path))

    def _fingerprints(self, source: DataFrame) -> dict[int, dict]:
        fp = _fingerprint()
        rows = source.groupBy(
            partition_id("conv_id", self.num_partitions).alias("pid")
        ).agg(*(c.alias(k) for k, c in fp.items())).collect()
        return {int(r.pid): {k: int(r[k] or 0) for k in fp} for r in rows}

    def changed_partitions(self, fps: dict[int, dict]) -> list[int]:
        """Committed partitions whose CURRENT input fingerprint differs
        from the one recorded at commit time (missing baseline counts
        as changed — correctness over skipping — EXCEPT for partitions
        born outside batch extraction, see below)."""
        changed = []
        for pid, commit in self.sink.committed().items():
            m = commit.get("metrics", {})
            if "input_rows" not in m and m.get("op"):
                # a maintenance/stream-landed commit ('op' set) with NO
                # batch baseline: this partition's content never came
                # from input_path (e.g. stream_extract_upsert bootstrap
                # — the STREAM was its extraction), so there is nothing
                # to compare the batch fingerprint against, and
                # re-extracting it from input_path would silently WIPE
                # every streamed row. Skipped, never 'changed'.
                # (Maintenance over batch-extracted partitions carries
                # the baseline forward, so it never lands here.)
                continue
            cur = fps.get(pid, {"input_rows": 0, "input_sig": 0})
            if (m.get("input_rows"), m.get("input_sig")) != (
                cur["input_rows"], cur["input_sig"],
            ):
                changed.append(pid)
        return changed

    def _extracted(self, source: DataFrame, pids: list[int]) -> DataFrame:
        df = source.withColumn("pid", self.sink.pid())
        if len(pids) < self.num_partitions:
            # resume: a row filter, not a pruned scan (module docstring)
            df = df.where(F.col("pid").isin(pids))
        return extract_turns(
            df.select("conv_id", "turn_idx", "role", "text", "tool"),
            with_metrics=True,
        ).withColumn("pid", self.sink.pid())

    # ---------------------------------------------------------------

    def run(self, incremental: bool = False) -> dict:
        """One claim-loop pass. Returns a summary.

        ``incremental=True`` additionally re-extracts committed
        partitions whose input fingerprint changed since their commit
        (new data arriving in an append-only store) — the Iceberg
        incremental-scan analog: only 1/P of the table recomputes per
        appended conversation, not the whole job."""
        run_id = uuid.uuid4().hex[:12]
        # ONE driver owns a sink at a time: the claim loop's
        # checkpoint get+set is not cross-process atomic, so a second
        # concurrent driver fails its claim cleanly with LeaseHeld
        # instead of double-promoting; a second job with a different
        # partition count fails with ValueError instead of scattering
        # rows (MergeSink.owned)
        with self.sink.owned(self.num_partitions, self.lease_ttl):
            return self._run_owned(run_id, incremental)

    def _run_owned(self, run_id: str, incremental: bool) -> dict:
        self.checkpoints.recover()  # Q2
        pids = self.pending_partitions()
        # ONE read of the input per run: its listing and footer job are
        # shared by the incremental change scan and the extraction
        source = (self.spark.read.parquet(self.input_path)
                  if pids or incremental else None)
        # nothing committed, nothing changed: skip the change scan
        if incremental and self.sink.committed():
            # changed COMMITTED partitions respect the same Q4 retry
            # cap as uncommitted ones — without this, a committed
            # partition whose appended input keeps failing to stage is
            # re-selected on every incremental run forever instead of
            # parking at max_attempts (it stays visible in checkpoints)
            changed = [
                p for p in self.changed_partitions(
                    self._fingerprints(source))
                if not (
                    (st := self.checkpoints.get(p))["status"] == ERROR
                    and st["attempt"] >= self.max_attempts
                )
            ]
            pids = sorted(set(pids) | set(changed))
        if not pids:
            return {"run_id": run_id, "committed": [], "status": "up-to-date"}

        for pid in pids:
            st = self.checkpoints.get(pid)
            self.checkpoints.set(
                pid, status=PROCESSING, run_id=run_id,
                attempt=st["attempt"] + 1, started_at=time.time(),
            )

        aggs = _commit_aggs()
        try:
            staged = self.sink.stage(
                self._extracted(source, pids), run_id,
                *(c.alias(k) for k, c in aggs.items()),
            )
        except LeaseHeld:
            raise  # ownership lost: the checkpoints are the new owner's
        except Exception as exc:  # noqa: BLE001
            for pid in pids:
                self.checkpoints.set(
                    pid, status=ERROR, error=f"{type(exc).__name__}: {exc}",
                )
            raise

        # a pid that staged no rows commits zeros
        metrics = {
            pid: {k: int((staged[pid][k] if pid in staged else 0) or 0)
                  for k in aggs}
            for pid in pids
        }
        committed = []
        for pid, commit in self.sink.publish(run_id, metrics):
            # attempt resets on success: the cap bounds a FAILURE
            # STREAK, not lifetime failures — a partition that failed
            # twice years ago then succeeded gets a full retry budget
            # when its input next changes
            self.checkpoints.set(
                pid, status=COMPLETED, completed_at=time.time(),
                snapshot_id=commit["snapshot_id"], attempt=0,
            )
            committed.append(pid)
        return {"run_id": run_id, "committed": committed, "status": "ok"}

    def read_output(self) -> DataFrame:
        return self.sink.read(self.spark)
